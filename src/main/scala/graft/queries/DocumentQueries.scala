package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.{Dedup, Multimodal, SimilarityJoin, SimilaritySearch, TextAnalysis}

/** Document/LLM-pipeline query pack over the `documents` table: similarity
  * join (DSim-Join capability), dedup, and text analysis. Oracles are
  * brute-force DuckDB SQL — the operators must reach the same answers
  * without any cross join.
  *
  * Output columns avoid raw double division where a rounding-mode
  * difference between engines could flip a digit: set sizes (`inter`,
  * `uni`) are exact integers and Jaccard is derivable from them.
  */
object DocumentQueries {

  private def t(s: SparkSession, dir: String, name: String) = Tables(s, dir, name)

  /** Materialize before a global sort: `orderBy` on an expensive result
    * re-runs the whole plan for range-partition SAMPLING (observed 1.7× on
    * q18). `persist()` + an eager count keeps AQE intact (localCheckpoint
    * materializes through the RDD path and silently disables it — measured
    * 9× regression on q21's plan) while the sort's sampling pass and real
    * pass both read the cached partitions.
    */
  private def sortedMaterialized(df: DataFrame, cols: String*): DataFrame = {
    val cached = df.persist()
    cached.count()
    cached.orderBy(cols.map(col): _*)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Set-similarity self-join at τ=0.8 (SURVEY J12-J18), routed through
    // the COST-BASED strategy chooser (SimilarityJoin.choose — picks the
    // segment plan on this dup-dense corpus, measured 1.5× faster than
    // prefix same-session; strategies produce identical output, equality
    // spec'd). The oracle is the O(n²) definition.
    "q18_simjoin_documents" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      sortedMaterialized(
        SimilarityJoin.selfJoinAuto(docs, "doc_id", "text", 0.8)
          .select(
            col("x_id"),
            col("y_id"),
            col("inter").cast("long").as("inter"),
            col("uni").cast("long").as("uni")),
        "x_id", "y_id")
    }),

    // Deletion-signature similarity join (the reference's full Dima scheme:
    // 1-deletion signatures + min-heap V-greedy probe allocation) — same
    // semantics as q18 through a different strategy, so the oracle is the
    // same O(n²) definition. Exercises SURVEY J16/J17/W4 end-to-end.
    "q45_simjoin_deletion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      sortedMaterialized(
        graft.operators.DeletionJoin.selfJoin(docs, "doc_id", "text", 0.8)
          .select(
            col("x_id"),
            col("y_id"),
            col("inter").cast("long").as("inter"),
            col("uni").cast("long").as("uni")),
        "x_id", "y_id")
    }),

    // MinHash+LSH dedup (LLM op #1): banded buckets → verified pairs →
    // min-id connected components. Oracle = transitive closure over the
    // brute-force exact-Jaccard dup graph (recursive CTE): LSH recall at
    // b=32,r=3,τ=0.8 has miss probability ~1e-10 per pair, so the verified
    // candidate graph equals the exact graph on deterministic data.
    "q19_dedup_minhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      Dedup.minhashDedup(toks, tau = 0.8)
        .select(col("sid").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),

    // Exact dedup (hash groupBy): survivors keep min doc_id per identical
    // normalized text.
    "q20_dedup_exact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.exactDedup(docs, "doc_id", "text")
        .select(col("sid").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),

    // Word-bigram shingle similarity join (n-gram Jaccard dedup variant):
    // same signature machinery over 2-gram token sets, τ=0.6.
    "q21_simjoin_ngram" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val grams = Dedup.ngramTokens(docs, "doc_id", "text", 2)
      // routed through the measured cost-based chooser (it classifies this
      // 931-token-vocabulary shingle corpus as prefix — the 2.3×-faster
      // regime per the round-7 A/Bs); q18 exercises the segment branch
      sortedMaterialized(
        SimilarityJoin.selfJoinAutoTokens(grams, tau = 0.6)
          .select(
            col("x_id"),
            col("y_id"),
            col("inter").cast("long").as("inter"),
            col("uni").cast("long").as("uni")),
        "x_id", "y_id")
    }),

    // Brute-force cosine top-10 (ANN baseline, LLM op #2): queries are the
    // first 10 vectors broadcast against the corpus; exact answer, oracled.
    "q22_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val corpus = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      SimilaritySearch.bruteForceTopK(queries, corpus, 10)
        .select(
          col("q_id"),
          col("n_id"),
          col("rank").cast("long").as("rank"),
          round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // LSH-bucketed approximate top-10 (the 100 TB scale path): same shape,
    // candidates from shared random-hyperplane buckets only. Approximate ≠
    // non-deterministic: the Rademacher planes come from java.util.Random
    // (a SPEC'd LCG), so the oracle replays the exact plane signs in a
    // recursive CTE and re-derives the bucket join + re-rank in SQL.
    // Recall vs brute force is additionally asserted in
    // SimilaritySearchSpec.
    "q23_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val corpus = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      SimilaritySearch.lshTopK(queries, corpus, 10)
        .select(
          col("q_id"),
          col("n_id"),
          col("rank").cast("long").as("rank"),
          round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // Embedding-cosine near-dup pairs (dedup family): LSH-bucketed
    // candidates, exact cosine ≥ τ. The synthetic embeddings are
    // structureless (max natural pairwise cosine ≈ 0.48), so the query
    // plants deterministic near-copies (vec_id + 10000, ±0.003 per dim — a
    // construction both engines express identically): the answer is exactly
    // the planted (v, v+10000) pairs, found through the REAL scale-path LSH
    // (8-bit buckets × 32 tables), and the oracle is the brute-force
    // definition over the augmented table.
    "q24_embed_neardup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.select(col("vec_id").as("vid"), col("embedding").as("emb"))
      val planted = base.select(
        (col("vid") + 10000).as("vid"),
        zip_with(
          col("emb"),
          sequence(lit(0), lit(63)),
          (x, i) =>
            (x.cast("double") +
              when(pmod(i, lit(2)) === 0, lit(0.003)).otherwise(lit(-0.003)))
              .cast("float")).as("emb"))
      val vecs = base.unionByName(planted)
      SimilaritySearch.nearDupPairs(vecs, tau = 0.99, tables = 32)
        .select(col("x_id"), col("y_id"), round(col("sim"), 4).as("sim"))
        .orderBy("x_id", "y_id")
    }),

    // IVF-bucketed approximate top-10 (the second ANN scale path next to
    // LSH): coarse-quantized cells, nProbe-cell probe. The centroid sample
    // is ordered by MD5 of the id string (engine-portable), so the oracle
    // replays the full IVF pipeline — centroid pick, best-cosine cell
    // assignment, nProbe probe, re-rank — in plain SQL. Recall vs brute
    // force additionally asserted in SimilaritySearchSpec.
    "q44_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val corpus = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      SimilaritySearch.ivfTopK(queries, corpus, 10)
        .select(
          col("q_id"),
          col("n_id"),
          col("rank").cast("long").as("rank"),
          round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // SEMANTIC dedup (SemDeDup): IVF cells over the embedding corpus +
    // within-cell cosine >= 0.985 keep-min-id decisions — the redundancy
    // pass token dedup can't see. Centroids/assignment are the q44 MD5
    // recipe, so the oracle replays cells and decisions exactly.
    "q55_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id").as("vid"), col("embedding").as("emb"))
      SimilaritySearch.semanticDedup(emb, tau = 0.985, nCells = 64)
        .select(col("vid").as("vec_id"), col("dup_of"))
        .orderBy("vec_id")
    }),

    // SimHash near-dup pairs (dedup family #3 as a driver query): 64-bit
    // fingerprints, block-pigeonhole candidates, exact Hamming verify. The
    // token hash is MD5 (bit-identical in both engines), so the oracle
    // replays the exact fingerprint in SQL: per-token md5 hex, plane p =
    // bit p%4 of nibble p/4, per-plane ±1 majority, all-pairs Hamming ≤ 3.
    "q43_dedup_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      Dedup.simhashPairs(toks, maxHamming = 3)
        .select(
          col("x_id"),
          col("y_id"),
          col("hamming").cast("long").as("hamming"))
        .orderBy("x_id", "y_id")
    }),

    // Deterministic hash split (training-data curation): every document
    // assigned train/val/test by MD5 of its id — reproducible, engine-
    // portable, incremental-ingest-stable. The oracle replays the hex→
    // uniform arithmetic exactly.
    "q46_hash_split" -> ((s, dir) =>
      graft.operators.Sampling.hashSplit(
          t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    // Per-stratum quota cap (curation): at most 120 documents per predicted
    // language, chosen by MD5 order — the per-source/per-language cap of a
    // corpus pipeline, via the two-phase TopK (no stratum funnels into one
    // task).
    "q47_stratified_cap" -> ((s, dir) => {
      val langs = TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang_pred"))
      graft.operators.Sampling.stratifiedCap(langs, "lang_pred", "doc_id", 120)
        .orderBy("doc_id")
    }),

    // End-to-end curation pipeline (the user story the engine exists for):
    // exact-dedup survivors → quality gate → language gate → deterministic
    // split. Every stage is an already-oracled operator; this query proves
    // they compose, and its oracle is the composition of their SQL.
    "q48_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val survivors = Dedup.exactDedup(docs, "doc_id", "text")
        .filter(col("sid") === col("rep"))
        .select(col("sid").as("doc_id"))
      val quality = TextAnalysis.stats(docs, "doc_id", "text")
        .filter(col("quality") >= 0.38)
        .select("doc_id")
      val english = TextAnalysis.languageId(docs, "doc_id", "text")
        .filter(col("lang_pred") === "en")
        .select("doc_id")
      val kept = docs.join(survivors, "doc_id").join(quality, "doc_id").join(english, "doc_id")
      graft.operators.Sampling.hashSplit(
          kept, "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // Asymmetric containment join (partial-dup detector): ordered pairs
    // with |x∩y| ≥ ⌈0.9·|x|⌉ — catches short docs embedded in long ones
    // that symmetric Jaccard misses. Prefix-filtered on the probe side
    // only (see SimilarityJoin.containmentJoin); integer threshold compare,
    // brute-force oracle.
    "q50_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      sortedMaterialized(
        SimilarityJoin.containmentSelfJoin(docs, "doc_id", "text", 0.9)
          .select(
            col("x_id"),
            col("y_id"),
            col("inter").cast("long").as("inter"),
            col("x_len").cast("long").as("x_len")),
        "x_id", "y_id")
    }),

    // Per-language vocabulary: top-50 tokens by document frequency within
    // each predicted language — the vocabulary/stopword-mining step of a
    // corpus pipeline, composed from languageId + tokenize + the two-phase
    // TopK (W5: no language funnels into a single task).
    "q51_vocab_per_lang" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val langs = TextAnalysis.languageId(docs, "doc_id", "text")
        .select("doc_id", "lang_pred")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
        .select(col("sid").as("doc_id"), explode(col("toks")).as("tok"))
      val freq = toks.join(langs, "doc_id")
        .groupBy("lang_pred", "tok")
        .agg(count(lit(1)).as("df"))
      graft.operators.TopK
        .perGroup(freq, Seq("lang_pred"), Seq(col("df").desc, col("tok").asc), 50,
          rankCol = "rnk")
        .select(col("lang_pred"), col("tok"), col("df"), col("rnk").cast("long").as("rnk"))
        .orderBy("lang_pred", "rnk")
    }),

    // Winnowing fingerprint selection (SIGMOD'03): per-doc window-min
    // shingle hashes — the content-defined sampling that underlies
    // partial-dup detection at corpus scale (any shared ≥ w+k−1-token run
    // yields a shared fingerprint). MD5-based shingle hash → the selected
    // sets replay exactly in SQL.
    "q52_winnow_fingerprints" -> ((s, dir) =>
      graft.operators.Winnowing
        .fingerprints(t(s, dir, "documents"), "doc_id", "text", k = 3, w = 4)
        .select(col("sid").as("doc_id"), explode(col("fps")).as("fp"))
        .orderBy("doc_id", "fp")),

    // Text statistics + quality scoring (LLM op #4).
    "q25_text_stats" -> ((s, dir) =>
      TextAnalysis.stats(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Stopword-profile language ID.
    "q26_lang_id" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // 3-shingle fingerprint counts (rolling-hash fingerprint shape; counts
    // are engine-neutral, hash values stay library-side).
    "q27_fingerprint_shingles" -> ((s, dir) =>
      TextAnalysis.shingleFingerprints(t(s, dir, "documents"), "doc_id", "text", 3)
        .select("doc_id", "n_shingles", "n_distinct_shingles")
        .orderBy("doc_id")),

    // Signature-index persist sink (SURVEY S8, reference
    // `BuildSig_save.scala:27-60`): build the similarity-join signature
    // index, persist it to parquet, read it back, report per-document
    // signature counts (= the document's group segment count H — the
    // oracle re-derives multigroup + H arithmetic in SQL).
    "q35_sig_index_persist" -> ((s, dir) => {
      val toks = SimilarityJoin.tokenize(t(s, dir, "documents"), "doc_id", "text")
      val groups = SimilarityJoin.groupTable(s, toks, 0.8, 0.95)
      val sigs = SimilarityJoin.indexSignatures(toks, groups)
      val out = graft.streaming.SemiStreamRuntime.tempDir("sigidx-").toString
      sigs.write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy("sid")
        .agg(count(lit(1)).as("n_sigs"))
        .select(col("sid").as("doc_id"), col("n_sigs"))
        .orderBy("doc_id")
    }),

    // Multimodal frame sampling (LLM op #3): documents as opaque binary
    // payloads with typed metadata; frame explosion is pure structural
    // plumbing, so byte counts are oracle-able.
    "q36_multimodal_frames" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      Multimodal.sampleFrames(media)
        .select(
          col("media_id"),
          col("kind"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes").cast("long").as("frame_bytes"))
        .orderBy("media_id", "frame_idx")
    }),

    // Multimodal decode (stubbed) + batched feature extraction: the decode
    // stub is a deterministic rolling hash, so it IS oracle-able — the
    // DuckDB side replays the same Java arithmetic (64-bit wraparound via
    // HUGEINT, float32 accumulation) in a recursive CTE. MultimodalSpec
    // additionally pins batch shape and determinism.
    "q37_multimodal_decode" -> ((s, dir) => {
      val media = Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      Multimodal.extractFeatures(Multimodal.resize(media, 64, 64))
        .select(
          col("media_id"),
          col("kind"),
          size(col("features")).cast("long").as("feat_dim"),
          round(aggregate(col("features"), lit(0.0), (a, x) => a + x), 3).as("feat_l1"))
        .orderBy("media_id")
    }),

    // Benchmark decontamination (LLM op): eval set = doc_id ≡ 0 (mod 50),
    // corpus = the rest; flag corpus docs sharing any word 5-gram with any
    // eval doc. Eval grams broadcast, corpus streams — the only shuffle is
    // the final per-doc count. The oracle replays grams + the join in SQL.
    "q57_decontamination" -> ((s, dir) =>
      graft.operators.Decontamination
        .flagWithinTable(s, t(s, dir, "documents"), "doc_id", "text", n = 5, evalEvery = 50)
        .orderBy("doc_id")),

    // Gopher/C4-style quality-filter rule battery: per-doc repetition +
    // diversity signals and the AND-able rule bits, all shuffle-free.
    "q58_quality_rules" -> ((s, dir) =>
      TextAnalysis.qualityRules(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Corpus-level 3-gram novelty: fraction of each doc's distinct grams
    // unique to it corpus-wide + max document frequency (boilerplate).
    "q59_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id")),

    // PII scrub (LLM op): the synthetic corpus carries no natural PII, so
    // the fixture embeds deterministic emails/phones/IPs derived from
    // doc_id (some docs get none — the clean path is exercised too); the
    // operator then counts + masks each pattern in sequence. The oracle
    // replays the fixture and the same regex battery in DuckDB.
    "q60_pii_redact" -> ((s, dir) => {
      val fx = t(s, dir, "documents").withColumn(
        "pii_text",
        concat(
          col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit(" mail u"), col("doc_id").cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(4)) === 1,
            concat(lit(" call 555-"),
              lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-"),
              lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 2,
            concat(lit(" host 10."), pmod(col("doc_id"), lit(256)).cast("string"), lit(".0.1")))
            .otherwise(lit(""))))
      TextAnalysis.redactPii(fx, "doc_id", "pii_text").orderBy("doc_id")
    }),

    // Keyword retrieval top-k (LLM op): integer-exact BM25 surrogate over
    // a fixed seed-term set — one corpus scan, one summary agg, global
    // top-k via TakeOrderedAndProject. Ties broken by doc_id so the top-k
    // SET is deterministic cross-engine.
    "q61_keyword_topk" -> ((s, dir) =>
      graft.operators.KeywordSearch.topK(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "vector", "window"), k = 25)),

    // Domain-mixing weighted sample (LLM op): per-source keep rates via
    // the MD5-uniform — scan-level filter, no shuffle; one source's rate
    // change never churns another source's survivors.
    "q62_weighted_mix" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
          t(s, dir, "documents"), "doc_id", "source",
          Seq("src0" -> 0.9, "src1" -> 0.6, "src2" -> 0.3), defaultRate = 0.15)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Sequence packing (LLM op): concat-and-chunk the corpus into
    // 128-token context windows across 8 independent id-sharded streams —
    // pure integer window math, no global sort (see operators/Packing).
    "q63_seq_packing" -> ((s, dir) =>
      graft.operators.Packing
        .packSpans(t(s, dir, "documents"), "doc_id", "text", budget = 128, nStreams = 8)
        .orderBy("doc_id")),

    // Block-level exact dedup (LLM op, Lee et al. 2021 shape): 8-token
    // blocks, keep the globally first occurrence of each distinct block,
    // reassemble survivors per document.
    "q64_block_dedup" -> ((s, dir) =>
      graft.operators.BlockDedup
        .dedup(t(s, dir, "documents"), "doc_id", "text", blockWords = 8)
        .orderBy("doc_id")),

    // Fuzzy decontamination (LLM op): eval set = doc_id ≡ 0 (mod 50);
    // corpus docs within token-set Jaccard ≥ 0.8 of any eval doc — LSH
    // candidates against a broadcast eval side, exact-Jaccard decision.
    // The oracle brute-forces corpus × eval (recall at b=32/r=3 is total).
    "q65_decon_fuzzy" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val eval = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("__e_id"), col("text").as("__e_text"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      graft.operators.Decontamination
        .flagFuzzy(corpus, "doc_id", "text", eval, "__e_id", "__e_text", tau = 0.8)
        .orderBy("doc_id", "eval_id")
    }),

    // K-means over embeddings (LLM op): 2 Lloyd rounds, k=8, on the
    // integer quantization grid — assignments are exact-integer decisions
    // (one IEEE division each), so the oracle replays them bit-for-bit.
    "q66_kmeans" -> ((s, dir) =>
      graft.operators.Clustering
        .kmeansAssign(
          t(s, dir, "embeddings").select(col("vec_id").as("vid"), col("embedding").as("emb")),
          k = 8, iters = 2)
        .withColumnRenamed("vid", "vec_id")
        .orderBy("vec_id")),

    // Cluster-balanced sampling (LLM op): the diversity-preserving cap —
    // k-means cells (q66) capped at 40 members each through the
    // MD5-deterministic stratified sampler (q47's machinery). Big cells
    // shrink, small cells survive whole.
    "q67_cluster_sample" -> ((s, dir) => {
      val cells = graft.operators.Clustering.kmeansAssign(
        t(s, dir, "embeddings").select(col("vec_id").as("vid"), col("embedding").as("emb")),
        k = 8, iters = 2)
      graft.operators.Sampling
        .stratifiedCap(cells.select(col("vid").as("vec_id"), col("cell")), "cell", "vec_id", 40)
        .orderBy("vec_id")
    }),

    // Quality-aware dedup survivors (LLM op): q19's clusters, but the kept
    // copy is the LONGEST (n_chars) member, ties to the smaller id — the
    // keep-best policy curation pipelines actually run.
    "q68_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tokens = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val scores = docs.select(col("doc_id").as("sid"), col("n_chars").as("score"))
      Dedup.minhashDedupKeepBest(tokens, scores, tau = 0.8)
        .withColumnRenamed("sid", "doc_id")
        .orderBy("doc_id")
    }),

    // Pack manifest (LLM op): per context window of the q63 packing, the
    // contributing doc count and filled token slots — interior packs are
    // exactly full by construction.
    "q69_pack_manifest" -> ((s, dir) =>
      graft.operators.Packing
        .packManifest(t(s, dir, "documents"), "doc_id", "text", budget = 128, nStreams = 8)
        .orderBy("stream", "pack")),

    // Exact per-source token-length percentiles (LLM op): histogram-first
    // quantiles — the data-sized work is one partial-aggregated count;
    // ranks are integer-exact (percentile_disc contract).
    "q70_length_percentiles" -> ((s, dir) =>
      graft.operators.Quantiles
        .exactQuantiles(
          t(s, dir, "documents").select(
            col("source"),
            size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long").as("ntok")),
          "source", "ntok",
          Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
        .orderBy("source")),

    // Hybrid dedup (LLM op): clusters over the UNION of token-Jaccard
    // (≥0.8) and same-IVF-cell embedding-cosine (≥0.985) evidence —
    // each tier catches near-dups the other misses; CC merges them.
    // Embeddings cover only a corpus prefix at sf0.1 — the partial-
    // coverage path is the production shape.
    "q72_hybrid_dedup" -> ((s, dir) => {
      val tokens = SimilarityJoin.tokenize(t(s, dir, "documents"), "doc_id", "text")
      val vectors = t(s, dir, "embeddings")
        .select(col("vec_id").as("vid"), col("embedding").as("emb"))
      Dedup.hybridDedup(tokens, vectors, tauText = 0.8, tauSem = 0.985)
        .withColumnRenamed("sid", "doc_id")
        .orderBy("doc_id")
    }),

    // Adaptive per-source quality floor (LLM op): drop each source's
    // shortest decile — the threshold COMES FROM the data (q70's exact
    // quantiles), broadcast back as a per-source floor.
    "q73_adaptive_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(
        col("doc_id"),
        col("source"),
        size(filter(split(col("text"), " "), x => length(x) > 0)).cast("long").as("ntok"))
      val thresholds = graft.operators.Quantiles
        .exactQuantiles(d, "source", "ntok", Seq(("p10", 1L, 10L)))
        .select(col("source"), col("p10"))
      d.join(broadcast(thresholds), "source")
        .filter(col("ntok") >= col("p10"))
        .select(col("doc_id"), col("source"), col("ntok"), col("p10"))
        .orderBy("doc_id")
    }),

    // Sliding-window chunking (RAG/long-context prep): 64-token windows
    // stepping by 48 — overlapping retrieval spans. Pure narrow transform
    // (scan → generate → project, no shuffle); all boundaries integer-exact.
    "q74_chunk_overlap" -> ((s, dir) =>
      graft.operators.Chunking
        .chunkSpans(t(s, dir, "documents"), "doc_id", "text", width = 64, stride = 48)
        .orderBy("doc_id", "chunk")),

    // Snapshot diff / CDC (incremental curation): yesterday's corpus vs
    // today's — the fixture plants additions (id≡3 mod 7 absent from old),
    // edits (id≡1 mod 5 revised), removals (id≡4 mod 9 absent from new).
    // Digest-first full-outer join: the shuffle carries 32 hex chars/row
    // however wide the documents are.
    "q75_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 1, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      val newSnap = docs.filter(pmod(col("doc_id"), lit(9)) =!= 4)
      graft.operators.SnapshotDiff
        .diff(oldSnap, newSnap, "doc_id", Seq("text", "lang", "source"))
        .orderBy("doc_id")
    }),

    // Deterministic training order (loader layout): MD5-derived reader
    // shards + within-shard positions — shuffle-once, epoch-stable; each
    // shard sorts only its own slice (no global total order anywhere).
    "q76_training_order" -> ((s, dir) =>
      graft.operators.Packing
        .trainingOrder(t(s, dir, "documents"), "doc_id", nShards = 16)
        .orderBy("doc_id")),

    // fastText-shaped classifier inference (curation filter): token →
    // Java-hash bucket → integer weight sums per class → argmax. Pure
    // scan-level projection, weights ride the plan; integer scores keep
    // the argmax exact cross-engine.
    "q77_hash_classifier" -> ((s, dir) => {
      graft.functions.JavaStringHash.register(s)
      graft.operators.TextClassifier.classifyHashedLinear(
          t(s, dir, "documents"), "doc_id", "text",
          nClasses = 4, nBuckets = 256,
          weights = graft.operators.TextClassifier.fixtureWeights(4, 256))
        .orderBy("doc_id")
    }),

    // WordPiece tokenizer inference (native codegen expression): greedy
    // longest-match sub-word segmentation with the BERT [UNK] contract;
    // the fixture vocab deliberately lacks 'd…' starts and '##p', so
    // data/dup/spark/group degrade to [UNK] — both paths exercised. The
    // oracle replays the greedy loop as a recursive CTE whose match step
    // is a longest-first CASE chain generated from the SAME vocab Seq.
    "q78_wordpiece" -> ((s, dir) => {
      graft.functions.WordPieceEncode.register(s)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          graft.functions.WordPieceEncode.wordpiece_encode(
            filter(split(col("text"), " "), x => length(x) > 0),
            wpStarts, wpConts).as("_p"))
        .select(
          col("doc_id"),
          size(col("_p")).cast("long").as("n_pieces"),
          size(filter(col("_p"), p => p === lit("[UNK]"))).cast("long").as("n_unk"),
          array_join(slice(col("_p"), 1, 6), " ").as("head_pieces"))
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination (native bitset build + codegen
    // probe): same contract as q57 at n=4/evalEvery=25, routed through the
    // Bloom pre-filter with the SHUFFLE-verify regime (broadcastJoin=false
    // — the eval-grams-too-big-to-broadcast scale path; the corpus side of
    // that join is only the Bloom survivors). Bloom has no false
    // negatives and survivors are exact-verified, so the result — and the
    // oracle — is exactly the unfiltered join's.
    "q79_bloom_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val eval = docs
        .filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id").as("__e_id"), col("text").as("__e_text"))
      val corpus = docs.filter(pmod(col("doc_id"), lit(25)) =!= 0)
      graft.operators.Decontamination
        .flagBloom(corpus, "doc_id", "text", eval, "__e_id", "__e_text",
          n = 4, fpp = 1e-2, broadcastJoin = false)
        .orderBy("doc_id")
    }),

    // DSIR-style importance resampling (LLM op): tilt the candidate pool
    // toward the 'src0' domain via hashed-bigram integer likelihood
    // ratios; keep the top-100 by (score, md5 tiebreak). Two corpus
    // scans, a 1024-row broadcast feature table, sharded top-k — no
    // corpus-keyed shuffle beyond the per-doc partial agg.
    "q80_dsir_resample" -> ((s, dir) =>
      graft.operators.ImportanceResampling
        .resampleTopK(
          t(s, dir, "documents"), "doc_id", "text",
          targetPred = col("source") === "src0",
          n = 2, nBuckets = 1024, scale = 1000000L, k = 100)
        .select(col("doc_id"), col("score"), col("n_grams"), col("rk").cast("int").as("rk"))
        .orderBy("doc_id")),

    // Count-min heavy hitters (LLM op): 4×512 sketch over token
    // occurrences, candidates kept at est ≥ N/100, survivors
    // exact-verified (sketch never undercounts, so no heavy hitter is
    // lost). The threshold is data-derived via one 1-row action; the
    // sketch is ≤ 2048 rows regardless of vocabulary size.
    "q81_cms_heavy_hitters" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(filter(split(col("text"), " "), x => length(x) > 0)).as("tok"))
      val n = toks.count()
      graft.operators.CountMin
        .heavyHitters(toks, "tok", depth = 4, width = 512, threshold = lit(n / 100))
        .orderBy("tok")
    }),

    // Persisted IVF index probe (LLM op): build the q44 IVF structure
    // ONCE, write centroids + cell-PARTITIONED assignments to parquet,
    // then serve queries from the artifacts with pruneCells=true — the
    // collected probe cells (≤ nCells, never data-sized) become an isin
    // filter that prunes the partitioned read to the probed directories.
    // The build-once/probe-many ANN serving shape at embedding scale.
    "q82_ivf_persist" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val (cent, asg) = SimilaritySearch.buildIvfIndex(corpus, nCells = 64)
      val out = graft.streaming.SemiStreamRuntime.tempDir("ivfidx-").toString
      cent.write.mode("overwrite").parquet(s"$out/centroids")
      asg.write.mode("overwrite").partitionBy("cell").parquet(s"$out/assigned")
      val queries = emb.filter(col("vec_id") >= 10 && col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      SimilaritySearch
        .ivfTopKFromIndex(
          queries,
          s.read.parquet(s"$out/centroids"),
          s.read.parquet(s"$out/assigned"),
          k = 5, nProbe = 4, pruneCells = true)
        .select(
          col("q_id"),
          col("n_id"),
          col("rank").cast("long").as("rank"),
          round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // Per-source HLL cardinality registers (LLM op): distinct-token
    // sketches at m=64. MAX over ranks is idempotent, so the token stream
    // needs no pre-distinct; shuffle volume is ≤ sources × 64 rows
    // whatever the corpus size. The float ESTIMATE stays out of the
    // oracled output (HllSpec pins its accuracy); registers are exact.
    "q85_hll_registers" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(
          col("source"),
          explode(filter(split(col("text"), " "), x => length(x) > 0)).as("tok"))
      graft.operators.Hll.registers(toks, "tok", p = 6, groupCols = Seq("source"))
        .orderBy("source", "bucket")
    }),

    // PMI collocation mining (LLM op): top-40 bigrams by exact-integer
    // lift (one IEEE multiply+divide, rounded to 4 — engine-identical),
    // min-support 5 applied before any join, sharded global top-k.
    "q88_collocations" -> ((s, dir) =>
      graft.operators.Collocations
        .topByLift(t(s, dir, "documents"), "doc_id", "text", minCount = 5, k = 40)
        .select(
          col("gram"), col("cxy"), col("cx"), col("cy"), col("lift"),
          col("rk").cast("int").as("rk"))
        .orderBy("rk")),

    // Generic connected components as a first-class capability (q19/q72
    // use it inside dedup; here it clusters ARBITRARY pairwise evidence):
    // SimHash Hamming≤3 pairs as edges, min-reachable-id labels. One
    // shuffle per iteration, decimal-safe convergence check.
    "q89_simhash_components" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      Dedup.connectedComponents(docs.select(col("doc_id").as("id")), edges)
        .select(col("id").as("doc_id"), col("rep"))
        .orderBy("doc_id")
    }),

    // FastSS edit-distance join (vocabulary/typo tier the token-set
    // family can't see): ≤2-deletion neighborhoods over the DISTINCT
    // vocabulary as complete candidates, codegen levenshtein verify.
    "q96_typo_pairs" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(filter(split(col("text"), " "), x => length(x) > 0)).as("w"))
      graft.operators.EditDistanceJoin.selfJoin(words, "w", k = 2)
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy("a", "b")
    }),

    // Frequent 2-itemset mining (A-Priori): any-co-occurrence pairs with
    // support ≥ 30% of baskets, lift-scored — the non-adjacent complement
    // of q88's collocations. Frequent-item prune before pairing.
    "q98_itemset_pairs" -> ((s, dir) => {
      val items = t(s, dir, "documents")
        .select(
          col("doc_id"),
          explode(array_distinct(filter(split(col("text"), " "), x => length(x) > 0)))
            .as("tok"))
      val nB = items.select("doc_id").distinct().count()
      graft.operators.Itemsets
        .frequentPairs(items, "doc_id", "tok", math.max(1L, nB * 3 / 10))
        .orderBy("x", "y")
    }),

    // Exact triangle enumeration (graph analytics past CC): SimHash
    // Hamming≤3 pairs as edges, degree-oriented wedge join — O(m^1.5)
    // wedge bound, each triangle once — closed by one equi-join.
    "q100_triangles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      graft.operators.Triangles.enumerate(edges)
        .orderBy("x", "y", "z")
    }),

    // Exact-integer PageRank (2 damped rounds) over the symmetric SimHash
    // pair graph: floor-division contributions and updates — bit-exact in
    // any engine/execution order, oracled by 2 unrolled SQL rounds.
    "q101_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val pairs = Dedup.simhashPairs(toks, maxHamming = 3)
      val edges = pairs.select(col("x_id").as("a"), col("y_id").as("b"))
        .unionByName(pairs.select(col("y_id").as("a"), col("x_id").as("b")))
      graft.operators.PageRank
        .ranks(docs.select(col("doc_id").as("id")), edges, iters = 2)
        .select(col("id").as("doc_id"), col("rank"))
        .orderBy("doc_id")
    }),

    // Local clustering coefficient over the SimHash pair graph: per-node
    // triangle membership vs possible wedges, in exact basis points —
    // separates tight duplicate cliques from borderline chains.
    "q104_clustering_coeff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      graft.operators.Triangles.clusteringCoefficient(edges)
        .select(col("id").as("doc_id"), col("degree"), col("n_triangles"), col("cc_bp"))
        .orderBy("doc_id")
    }),

    // Simpson diversity per source (corpus-quality metric with NO floats):
    // 1 − Σp² as exact basis points — 10000 − ⌊10000·Σc²/n²⌋ over token
    // occurrence counts; a boilerplate-heavy source scores low.
    "q105_simpson_diversity" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(
          col("source"),
          explode(filter(split(col("text"), " "), x => length(x) > 0)).as("tok"))
      toks
        .groupBy("source", "tok")
        .agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(
          sum("c").as("n"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") * col("c")).as("sum_sq"))
        .withColumn("simpson_bp", expr("10000 - (10000 * sum_sq) div (n * n)"))
        .orderBy("source")
    }),

    // Hybrid retrieval with reciprocal-rank fusion (LLM op): the
    // keyword ranking (q61's integer-BM25 surrogate) fused with an
    // embedding cosine ranking (query = vector 0) via integer RRF —
    // rank-only fusion, no cross-system score calibration. Both input
    // rankings are bounded top-50 relations; fusion never touches the
    // corpus.
    "q107_hybrid_retrieval" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kw = graft.operators.KeywordSearch
        .topK(docs, "doc_id", "text", Seq("spark", "vector", "window"), 50)
        .withColumn(
          "rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rank")
      val emb = t(s, dir, "embeddings")
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      graft.functions.CosineSimilarity.register(s)
      val ann = graft.operators.TopK.perGroup(
          emb.filter(col("vec_id") =!= 0)
            .crossJoin(broadcast(q0))
            .withColumn("sim", SimilaritySearch.cosine(col("embedding"), col("q_emb"))),
          Seq.empty, Seq(col("sim").desc, col("vec_id").asc), 50, rankCol = "rank")
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.operators.Fusion
        .rrf(Seq(kw, ann), "doc_id", "rank", kConst = 60L, scale = 1000000L, topK = 10)
        .select(col("doc_id"), col("rrf"), col("n_lists"), col("rk").cast("int").as("rk"))
        .orderBy("rk")
    }),

    // Vocabulary canonicalization: typo clusters (ed ≤ 2) mapped to the
    // MOST FREQUENT spelling — the entity-resolution representative
    // policy, vs dedup's min-id.
    "q109_vocab_canonical" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(filter(split(col("text"), " "), x => length(x) > 0)).as("w"))
      graft.operators.EditDistanceJoin.canonicalize(words, "w", k = 2)
        .orderBy("word")
    }),

    // Count-based bigram LM table (KenLM-shape): top-3 continuations per
    // word with exact integer conditional-probability numerators —
    // P(next|w) = cnt/ctx in basis points by floor division. The
    // n-gram-count relation IS the scale path (billions of rows, all
    // map-side-combined counts + one sharded per-group top-k).
    "q108_bigram_lm" -> ((s, dir) => {
      val toks = filter(split(col("text"), " "), x => length(x) > 0)
      val pairs = t(s, dir, "documents")
        .select(explode(when(
          size(toks) >= 2,
          transform(sequence(lit(0), size(toks) - 2),
            i => struct(element_at(toks, i + 1).as("w"), element_at(toks, i + 2).as("next"))))
          .otherwise(array().cast("array<struct<w:string,next:string>>"))).as("p"))
        .select(col("p.w").as("w"), col("p.next").as("next"))
      val bi = pairs.groupBy("w", "next").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 5)
      val ctx = pairs.groupBy("w").agg(count(lit(1)).as("ctx"))
      graft.operators.TopK
        .perGroup(
          bi.join(ctx, "w"),
          Seq("w"), Seq(col("cnt").desc, col("next").asc), 3)
        .withColumn("p_bp", expr("(10000 * cnt) div ctx"))
        .select("w", "next", "cnt", "ctx", "p_bp", "rk")
        .orderBy("w", "rk")
    }),

    // Exact repeated-substring spans (Lee et al. 2022's verbatim-
    // duplication pass, re-expressed as k-shingle inversion + per-doc
    // gaps-and-islands): maximal token spans covered by 5-gram shingles
    // occurring ≥ 2× corpus-wide — the boilerplate/template passages
    // document-level dedup can't see.
    "q112_repeated_spans" -> ((s, dir) =>
      graft.operators.SubstringDedup
        .repeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 5, minCount = 2)
        .orderBy("doc_id", "start_tok")),

    // Per-document duplication load from the q112 spans (interval-merged,
    // so overlapping islands never double-count): covered tokens and
    // integer-bp share — the rank signal a curation pipeline uses to
    // drop or trim template-heavy documents.
    "q113_duplication_load" -> ((s, dir) =>
      graft.operators.SubstringDedup
        .duplicationLoad(t(s, dir, "documents"), "doc_id", "text", k = 5, minCount = 2)
        .orderBy("doc_id")),

    // The ACT half of the Lee et al. pass: keep the global-first
    // occurrence of every repeated span, excise the rest, reassemble
    // each document from its kept tokens.
    "q114_span_removal" -> ((s, dir) =>
      graft.operators.SubstringDedup
        .removeRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 5, minCount = 2)
        .orderBy("doc_id")),

    // Vocabulary growth curve (Heaps empirics) over word BIGRAMS (the
    // unigram vocab saturates in one checkpoint): new grams per ingest
    // checkpoint + cumulative vocabulary — each gram charged to the
    // checkpoint of its FIRST document (one min-agg over the exploded
    // stream, then a k-row cumulative window).
    "q106_vocab_growth" -> ((s, dir) =>
      graft.operators.TextAnalysis
        .vocabularyGrowth(
          graft.operators.Decontamination.grams(
            t(s, dir, "documents"), "doc_id", "text", n = 2),
          "doc_id", "gram", checkpoints = 10)
        .orderBy("checkpoint")),

    // CCNet-style LM familiarity buckets: every document scored under the
    // corpus's own bigram LM (q108's model) in exact basis points, then
    // head/middle/tail split by value thresholds from the bounded score
    // histogram — the quality partition a mixing pipeline oversamples
    // from, with NO global sort anywhere in the plan.
    "q116_lm_buckets" -> ((s, dir) =>
      graft.operators.LmScore
        .familiarityBuckets(t(s, dir, "documents"), "doc_id", "text", minCount = 5)
        .orderBy("doc_id")),

    // Distributed BPE tokenizer training: 6 merge rounds over the
    // vocabulary-sized word-count relation — per round one map-side-
    // combined weighted pair count, a 1-row argmax, and a narrow
    // spaced-string rewrite. Output is the learned merge table with the
    // corpus symbol count after each merge (the compression curve).
    "q117_bpe_train" -> ((s, dir) =>
      graft.operators.BpeTrain
        .learnTable(s, t(s, dir, "documents"), "text", nMerges = 6)
        .orderBy("step")),

    // Corpus encoding under the learned merges: apply the 6 merges to
    // every word occurrence in learned order, count BPE symbols per
    // document — the token-budget accounting step after tokenizer
    // training.
    "q118_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrain.learn(docs, "text", nMerges = 6)
      graft.operators.BpeTrain.encode(docs, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Cross-source corpus overlap matrix: exact distinct-3-shingle
    // |A∩B| per source pair with Jaccard + both containments in basis
    // points — the "is dump B already inside dump A" ingestion report.
    // One 8-byte-hash shuffle; pair fan-out bounded by C(#sources, 2).
    "q119_source_overlap" -> ((s, dir) =>
      graft.operators.CorpusOverlap
        .overlapMatrix(t(s, dir, "documents"), "source", "text", k = 3)
        .orderBy("src_a", "src_b")),

    // Synchronous plurality label propagation (3 rounds) over the SimHash
    // pair graph: communities one level coarser than connected components
    // (bridges dissolve under the vote). Deterministic (count, min-label)
    // tie-break — oracled by 3 unrolled SQL rounds.
    "q120_label_propagation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val pairs = Dedup.simhashPairs(toks, maxHamming = 3)
      val edges = pairs.select(col("x_id").as("a"), col("y_id").as("b"))
        .unionByName(pairs.select(col("y_id").as("a"), col("x_id").as("b")))
      graft.operators.LabelPropagation
        .propagate(docs.select(col("doc_id").as("id")), edges, iters = 3)
        .select(col("id").as("doc_id"), col("label"))
        .orderBy("doc_id")
    }),

    // Temperature (α = 1/2) mixture plan over languages — the XLM-R/CCNet
    // rebalancing step: weight_s = EXACT isqrt(n_s), quota_s =
    // ⌊N·w_s/Σw⌋ capped at n_s. All integer math on a #langs-row relation.
    "q121_mixture_plan" -> ((s, dir) =>
      graft.operators.Sampling
        .mixturePlan(t(s, dir, "documents"), "lang", totalN = 300)
        .orderBy("lang")),

    // The materialized α-sample: first quota_s docs per language in MD5
    // order of the id (ingest-stable, engine-portable selection).
    "q122_temperature_sample" -> ((s, dir) =>
      graft.operators.Sampling
        .temperatureSample(t(s, dir, "documents"), "lang", "doc_id", totalN = 300)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Distinctive terms per source by exact integer lift (observed vs
    // expected rate in basis points, DECIMAL(38,0) arithmetic), min-count
    // noise gate, two-phase top-10 per source.
    "q123_distinctive_terms" -> ((s, dir) =>
      graft.operators.Keyness
        .distinctiveTerms(t(s, dir, "documents"), "source", "text", minCount = 3, k = 10)
        .orderBy("source", "rk")),

    // Exact Mann–Whitney AUC of the hashed linear margin against the
    // lang='en' label: histogram + recursive prefix sum, never pos×neg
    // pairs; DECIMAL(38,0) pair counts, one integer division at the end.
    "q124_classifier_auc" -> ((s, dir) => {
      graft.functions.JavaStringHash.register(s)
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextClassifier
        .scoreLinear(docs, "doc_id", "text", nBuckets = 256,
          weights = graft.operators.TextClassifier.fixtureWeights(1, 256))
        .join(
          docs.select(col("doc_id"), (col("lang") === "en").cast("int").as("y")),
          "doc_id")
      graft.operators.ModelEval.exactAuc(scored, "score", "y")
    }),

    // Exact average precision over the same score/label (round-11): the
    // PR-side companion of q124 — thresholds at distinct scores
    // descending, term-floored 10^7 fixed point, never a per-item sort.
    "q180_classifier_ap" -> ((s, dir) => {
      graft.functions.JavaStringHash.register(s)
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextClassifier
        .scoreLinear(docs, "doc_id", "text", nBuckets = 256,
          weights = graft.operators.TextClassifier.fixtureWeights(1, 256))
        .join(
          docs.select(col("doc_id"), (col("lang") === "en").cast("int").as("y")),
          "doc_id")
      graft.operators.ModelEval.averagePrecision(scored, "score", "y")
    }),

    // Equi-width threshold calibration table for the same score/label:
    // exact integer bucketing of the score range, per-band positive rate
    // in basis points — where to put the corpus filter threshold.
    "q125_score_calibration" -> ((s, dir) => {
      graft.functions.JavaStringHash.register(s)
      val docs = t(s, dir, "documents")
      val scored = graft.operators.TextClassifier
        .scoreLinear(docs, "doc_id", "text", nBuckets = 256,
          weights = graft.operators.TextClassifier.fixtureWeights(1, 256))
        .join(
          docs.select(col("doc_id"), (col("lang") === "en").cast("int").as("y")),
          "doc_id")
      graft.operators.ModelEval.calibrationBuckets(scored, "score", "y", nBuckets = 10)
        .orderBy("bucket")
    }),

    // k-core of the SimHash near-dup graph (4 synchronous peels at k=3):
    // the dense boilerplate/spam cores CC and communities both blur over.
    // Fixed-round contract — oracle replays the peels verbatim.
    "q131_kcore" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val pairs = Dedup.simhashPairs(toks, maxHamming = 3)
      val edges = pairs.select(col("x_id").as("a"), col("y_id").as("b"))
        .unionByName(pairs.select(col("y_id").as("a"), col("x_id").as("b")))
      graft.operators.KCore
        .core(docs.select(col("doc_id").as("id")), edges, k = 3, rounds = 4)
        .select(col("id").as("doc_id"), col("degree"))
        .orderBy("doc_id")
    }),

    // Personalized PageRank (2 damped rounds, restart mass on doc_id < 25):
    // exact-integer floor math — importance relative to a seed set, the
    // graph-expansion step of seeded retrieval/curation.
    "q132_ppr" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val pairs = Dedup.simhashPairs(toks, maxHamming = 3)
      val edges = pairs.select(col("x_id").as("a"), col("y_id").as("b"))
        .unionByName(pairs.select(col("y_id").as("a"), col("x_id").as("b")))
      graft.operators.PageRank
        .personalizedRanks(
          docs.select(col("doc_id").as("id")),
          edges,
          docs.filter(col("doc_id") < 25).select(col("doc_id").as("id")),
          iters = 2)
        .select(col("id").as("doc_id"), col("rank"))
        .orderBy("doc_id")
    }),

    // Bounded-hop BFS from doc 0 over the SimHash graph (4 rounds):
    // exact hop distances, −1 beyond the horizon — the blast-radius /
    // neighborhood query of the reachability tier.
    "q133_bfs_hops" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val pairs = Dedup.simhashPairs(toks, maxHamming = 3)
      val edges = pairs.select(col("x_id").as("a"), col("y_id").as("b"))
        .unionByName(pairs.select(col("y_id").as("a"), col("x_id").as("b")))
      graft.operators.Reachability
        .hopDistances(docs.select(col("doc_id").as("id")), edges, sourceId = 0L, rounds = 4)
        .select(col("id").as("doc_id"), col("dist"))
        .orderBy("doc_id")
    }),

    // Symmetric int8 embedding quantization (serving/index footprint cut):
    // exact float→double scale, fixed-order IEEE rounding — every code
    // replays bit-for-bit in any engine. Exploded to scalar rows for the
    // oracle (one row per dimension).
    "q128_embed_quantize" -> ((s, dir) =>
      graft.operators.SimilaritySearch
        .quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          posexplode(col("codes")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("long").as("dim"),
          col("code").cast("long").as("code"), col("scale"))
        .orderBy("vec_id", "dim")),

    // ANN over the QUANTIZED corpus: integer dot/norm numerators, one
    // sqrt + one division of exactly-representable ints — ranking is
    // bit-exact cross-engine (scales cancel out of cosine).
    "q129_quantized_ann" -> ((s, dir) => {
      val codes = graft.operators.SimilaritySearch
        .quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
      val queries = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("codes").as("q_codes"))
      val corpus = codes.select(col("vec_id").as("n_id"), col("codes").as("n_codes"))
      graft.operators.SimilaritySearch.quantizedTopK(queries, corpus, 10)
        .select(col("q_id"), col("n_id"), col("rank").cast("long").as("rank"), col("qsim"))
        .orderBy("q_id", "rank")
    }),

    // Recall@10 of the int8 ranking against the float ranking — the
    // quality certificate for a quantization setting, in exact basis
    // points per query.
    "q130_quantization_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val fq = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val fc = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val floatTop = graft.operators.SimilaritySearch.bruteForceTopK(fq, fc, 10)
        .select("q_id", "n_id")
      val codes = graft.operators.SimilaritySearch
        .quantizeInt8(emb, "vec_id", "embedding")
      val qq = codes.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("codes").as("q_codes"))
      val qc = codes.select(col("vec_id").as("n_id"), col("codes").as("n_codes"))
      val intTop = graft.operators.SimilaritySearch.quantizedTopK(qq, qc, 10)
        .select("q_id", "n_id")
      floatTop.join(intTop, Seq("q_id", "n_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_overlap"))
        .withColumn("recall_bp", expr("(10000 * n_overlap) div 10"))
        .orderBy("q_id")
    }),

    // End-to-end multilingual mixture pipeline (the q48 composition proof
    // over the NEW wave): exact-dedup survivors → α=1/2 temperature
    // rebalance across languages → deterministic reader-shard order.
    // Every stage an already-oracled operator; oracle = their SQL chained.
    "q127_curation_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val survivors = Dedup.exactDedup(docs, "doc_id", "text")
        .filter(col("sid") === col("rep"))
        .select(col("sid").as("doc_id"))
      val kept = docs.join(survivors, "doc_id").select("doc_id", "lang")
      val mixed = graft.operators.Sampling
        .temperatureSample(kept, "lang", "doc_id", totalN = 250)
      graft.operators.Packing.trainingOrder(mixed, "doc_id", nShards = 8)
        .join(mixed, "doc_id")
        .select("doc_id", "lang", "shard", "pos")
        .orderBy("doc_id")
    }),

    // SEMANTIC decontamination (the paraphrase tier q57/q65/q79 miss):
    // eval embeddings vs corpus embeddings through the IVF-cell scale
    // path — corpus-sampled MD5 centroids, both sides best-cosine
    // assigned, cell equi-join, cosine >= 0.99. Eval set = planted
    // perturbed copies of vec_id < 25 (the q24 construction both engines
    // express identically), so the oracle replays centroids, both
    // assignments, and the hit decisions exactly.
    "q135_semantic_decon" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val eval = emb.filter(col("vec_id") < 25).select(
        (col("vec_id") + 10000).as("eval_id"),
        zip_with(
          col("embedding"),
          sequence(lit(0), lit(63)),
          (x, i) =>
            (x.cast("double") +
              when(pmod(i, lit(2)) === 0, lit(0.003)).otherwise(lit(-0.003)))
              .cast("float")).as("eval_emb"))
      graft.operators.Decontamination
        .flagSemanticCells(
          emb, "vec_id", "embedding", eval, "eval_id", "eval_emb",
          tau = 0.99, nCells = 64)
        .orderBy("vec_id")
    }),

    // k-anonymity release (privacy tier #2 next to q60's PII redaction):
    // every (lang, source) combination covering < 5 documents has its
    // quasi-identifiers suppressed to NULL; each row ships with its
    // anonymity-set size. Census broadcast, corpus never shuffles.
    "q136_kanon_release" -> ((s, dir) =>
      graft.operators.KAnonymity.suppress(
          t(s, dir, "documents").select("doc_id", "lang", "source"),
          Seq("lang", "source"), k = 5)
        .orderBy("doc_id")),

    // Tokenizer fertility per language under the corpus's own 6-merge BPE
    // (tokens/word, chars/token in exact basis points) — the tokenizer
    // fitness audit over q117's learned merges. Oracle = the q118 encode
    // chain rolled up per language.
    "q137_tokenizer_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.operators.BpeTrain.learn(docs, "text", nMerges = 6)
      graft.operators.BpeTrain.fertility(docs, "doc_id", "text", "lang", merges)
        .orderBy("lang")
    }),

    // MinHash-LSH recall certificate (the dedup-side sibling of q130's
    // quantization recall): true Jaccard >= 0.8 pairs from the EXACT
    // segment join vs pairs the banded signatures surfaced, per 250-bp
    // similarity band, over a deterministic 1-in-5 document stratum (the
    // production audit shape — the certificate is an estimate, and the
    // stratum bounds BOTH sides' pair volume; the full-corpus form is the
    // same call without the filter). At b=32/r=3 the per-pair miss
    // probability is ~1e-10, so the oracle pins recall_bp = 10000 over
    // the brute-force band census; the degraded-configuration behavior
    // (where recall actually drops) is spec'd in DedupSpec against a
    // per-pair brute-force ground truth. maxQuadBucket is unbounded here
    // because the certificate audits PAIRS (the star-edge mega-bucket cap
    // is a clustering-only contract).
    "q138_lsh_recall_cert" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(pmod(col("doc_id"), lit(5)) === 0)
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      Dedup.lshRecallCertificate(
          toks, tau = 0.8, bands = 32, rowsPerBand = 3,
          bandBp = 250, maxQuadBucket = Int.MaxValue)
        .orderBy("jacc_band_bp")
    }),

    // CROSS-corpus LM quality partition (the actual CCNet deployment
    // shape, vs q116's self-corpus bootstrap): the bigram LM trains on
    // the English slice only and scores EVERY document — head = most
    // reference-like. Bigrams whose count or prefix never cleared the
    // reference are OOV and score 0. Exact fixed-point end to end.
    "q139_crosslm_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.LmScore
        .familiarityBucketsAgainst(
          docs, "doc_id", "text",
          docs.filter(col("lang") === "en"), "text", minCount = 5)
        .orderBy("doc_id")
    }),

    // Hard-negative mining for embedding training: per anchor, the 10
    // MOST similar corpus vectors still BELOW the duplicate threshold.
    // The corpus carries planted near-copies of each anchor (the q24
    // construction) — the certificate is that they are EXCLUDED (a naive
    // top-k would return them as rank-1 false negatives) while the
    // hardest genuine negatives surface.
    "q140_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val planted = emb.filter(col("vec_id") < 10).select(
        (col("vec_id") + 10000).as("n_id"),
        zip_with(
          col("embedding"),
          sequence(lit(0), lit(63)),
          (x, i) =>
            (x.cast("double") +
              when(pmod(i, lit(2)) === 0, lit(0.003)).otherwise(lit(-0.003)))
              .cast("float")).as("n_emb"))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.SimilaritySearch
        .hardNegatives(queries, base.unionByName(planted), k = 10, tauDup = 0.99)
        .select(
          col("q_id"),
          col("n_id"),
          col("rank").cast("long").as("rank"),
          round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // Multi-epoch reader orders: the q76 deterministic shard/order layout
    // re-derived per epoch from md5(id || ':' || epoch) — independent
    // permutations per epoch with zero stored shuffle state.
    "q141_epoch_orders" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      (1 to 2)
        .map(e => graft.operators.Packing.epochOrder(docs, "doc_id", 16, e))
        .reduce(_ unionByName _)
        .orderBy("epoch", "doc_id")
    }),

    // Multimodal perceptual-hash dedup: 64-bit block-parity fingerprints
    // over the media payloads (the pHash STRUCTURE with an md5 stub for
    // the absent DCT/codec — see Multimodal.perceptualHash), near-dup
    // pairs at Hamming <= 3 through the shared block-pigeonhole join. The
    // oracle replays every md5 block bit and brute-forces the Hamming
    // filter.
    "q142_phash_dedup" -> ((s, dir) => {
      val media = graft.operators.Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      graft.operators.Multimodal.phashPairs(media, maxHamming = 3)
        .select(col("x_id"), col("y_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("x_id", "y_id")
    }),

    // Content-defined-chunking fingerprint (round-11): the length-robust
    // complement of q142's linear-block pHash — chunk boundaries come
    // from w-gram content (rsync/LBFS boundary realignment), so an
    // insertion flips O(1) bits where q142 decorrelates everything after
    // the edit. The oracle replays every boundary and every XOR'd bit.
    "q161_cdc_fingerprint" -> ((s, dir) => {
      val media = graft.operators.Multimodal.mediaFromDocuments(t(s, dir, "documents"))
      graft.operators.Multimodal.cdcFingerprint(media, w = 8)
        .orderBy("media_id")
    }),

    // Optimizer-rule gate (round-11): this query is written in PLAIN
    // Spark — size(array_intersect(...)) — and the injected
    // IntersectSizeRewrite rule fuses it to the intersect_size kernel
    // (plan-asserted in the spec); the oracle checks the VALUES either
    // way, so correctness and the rewrite are gated together.
    "q179_rule_fused_verify" -> ((s, dir) => {
      val toks = SimilarityJoin.tokenize(t(s, dir, "documents"), "doc_id", "text")
      val a = toks.select(col("sid").as("x_id"), col("toks").as("a"), col("slen").as("la"))
      val b = toks.select((col("sid") - 1).as("x_id"), col("sid").as("y_id"),
        col("toks").as("b"), col("slen").as("lb"))
      a.join(b, "x_id")
        .select(
          col("x_id"), col("y_id"),
          size(array_intersect(col("a"), col("b"))).cast("long").as("inter"),
          col("la"), col("lb"))
        .select(
          col("x_id"), col("y_id"), col("inter"),
          expr("inter * 10000 div (la + lb - inter)").as("jac_bp"))
        .orderBy("x_id")
    }),

    // Positional phrase search (round-11): postings index (token, id,
    // pos) materialized to token-sorted parquet (the q35 index
    // discipline — pushed token filters open only covering row groups),
    // then m-way position-arithmetic joins per phrase. Two phrases
    // exercise m=2 and m=3; the scan path equals this (spec-pinned).
    "q174_phrase_search" -> ((s, dir) => {
      import graft.operators.KeywordSearch
      val docs = t(s, dir, "documents")
      val idx = graft.streaming.SemiStreamRuntime.tempDir("postings-").toString + "/idx"
      KeywordSearch.buildPostings(docs, "doc_id", "text")
        .repartitionByRange(col("token"))
        .sortWithinPartitions("token")
        .write.parquet(idx)
      val postings = s.read.parquet(idx)
      def run(ph: Seq[String]) = KeywordSearch.phraseCountIndexed(postings, ph)
        .withColumn("phrase", lit(ph.mkString(" ")))
      run(Seq("value", "table"))
        .unionByName(run(Seq("table", "table", "part")))
        .select(col("phrase"), col("id").as("doc_id"), col("n_occ"), col("first_pos"))
        .orderBy("phrase", "doc_id")
    }),

    // End-to-end entity resolution (round-11 composition): BLOCK
    // (name-digit key ∪ cents key — near-singleton blocks, never n²) →
    // SCORE (q168's Fellegi–Sunter weights + θ decision) → CLUSTER
    // (min-label connected components over match edges). The MDM
    // pipeline a warehouse actually runs, end to end under one oracle.
    "q173_er_pipeline" -> ((s, dir) => {
      import graft.operators.RecordLinkage
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val off = 1000000L
      val b = c.select(
        (col("id") + off).as("id"),
        when(pmod(col("id"), lit(7)) === 0, concat(col("name"), lit("~")))
          .otherwise(col("name")).as("name"),
        when(pmod(col("id"), lit(5)) === 0, pmod(col("nat") + 1, lit(25)))
          .otherwise(col("nat")).as("nat"),
        when(pmod(col("id"), lit(11)) === 0, lit("UNKNOWN"))
          .otherwise(col("seg")).as("seg"),
        when(pmod(col("id"), lit(3)) === 0, col("cents") + 1)
          .otherwise(col("cents")).as("cents"))
      val labeled = c.filter(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("x_id"), (col("id") + off).as("y_id"))
      val attrs = Seq("name", "nat", "seg", "cents")
      val w = RecordLinkage.fsWeights(c, b, "id", "id", labeled, attrs)
      val byName = c
        .select(col("id").as("x_id"), substring(col("name"), 10, 9).as("bk"))
        .join(b.select(col("id").as("y_id"), substring(col("name"), 10, 9).as("bk")), "bk")
        .select("x_id", "y_id")
      val byCents = c.select(col("id").as("x_id"), col("cents").as("bk"))
        .join(b.select(col("id").as("y_id"), col("cents").as("bk")), "bk")
        .select("x_id", "y_id")
      val cands = byName.unionByName(byCents).distinct()
      val matched = RecordLinkage
        .scorePairs(c, b, "id", "id", attrs, cands, w, thetaNum = 1000L)
        .filter(col("is_match"))
      graft.operators.Dedup.connectedComponents(
          c.select(col("id")).unionByName(b.select(col("id"))),
          matched.select(col("x_id").as("a"), col("y_id").as("b")))
        .orderBy("id")
    }),

    // Kneser–Ney familiarity (round-11): LM trained on the even half of
    // the corpus, ALL docs scored — held-out docs exercise both backoff
    // arms (unseen bigram / unseen context), which under the MLE scorers
    // would flatten to OOV-zero. d = 3/4 exact fixed point.
    "q171_kn_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.LmScore.knFamiliarity(
          docs, "doc_id", "text",
          docs.filter(pmod(col("doc_id"), lit(2)) === 0), "text")
        .orderBy("doc_id")
    }),

    // Luhn-gated card redaction (round-11): docs get a deterministic
    // 16-digit run appended — Luhn-VALID on doc_id%3=0 (masked), the
    // same digits with a bumped check digit on doc_id%3=1 (an invoice-id
    // look-alike that must SURVIVE), nothing on the rest. The native
    // luhn_check expression gates the masking; pattern-only redaction
    // would have masked both.
    "q170_luhn_redact" -> ((s, dir) => {
      val valid = Seq(
        "4100003703703673", "4200004938271568", "4300006172839454",
        "4400007407407348", "4500008641975230")
      val invalid = valid.map(c =>
        c.init + (((c.last - '0') + 1) % 10).toString)
      def pick(cs: Seq[String]) = element_at(
        array(cs.map(lit): _*), (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" card "), pick(valid)))
          .when(pmod(col("doc_id"), lit(3)) === 1,
            concat(col("text"), lit(" ref "), pick(invalid)))
          .otherwise(col("text")).as("text"))
      graft.operators.TextAnalysis.redactCards(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Fellegi–Sunter record linkage (round-11): m/u weights estimated
    // from the data as exact integer ratios (u = Σf²/n² chance
    // agreement; m Laplace-smoothed over a labeled sample), gcd-reduced,
    // and pair scores carried as exact DECIMAL(38,0) likelihood-ratio
    // products — the classical log-sum ordering without a single float.
    // Fixture: a perturbed second source (name/nation/segment/cents
    // edits on disjoint mod classes), true-alignment + decoy candidates.
    "q168_record_linkage" -> ((s, dir) => {
      import graft.operators.RecordLinkage
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val off = 1000000L
      val b = c.select(
        (col("id") + off).as("id"),
        when(pmod(col("id"), lit(7)) === 0, concat(col("name"), lit("~")))
          .otherwise(col("name")).as("name"),
        when(pmod(col("id"), lit(5)) === 0, pmod(col("nat") + 1, lit(25)))
          .otherwise(col("nat")).as("nat"),
        when(pmod(col("id"), lit(11)) === 0, lit("UNKNOWN"))
          .otherwise(col("seg")).as("seg"),
        when(pmod(col("id"), lit(3)) === 0, col("cents") + 1)
          .otherwise(col("cents")).as("cents"))
      val labeled = c.filter(pmod(col("id"), lit(10)) === 0)
        .select(col("id").as("x_id"), (col("id") + off).as("y_id"))
      val attrs = Seq("name", "nat", "seg", "cents")
      val w = RecordLinkage.fsWeights(c, b, "id", "id", labeled, attrs)
      val n = c.agg(max("id")).head().getLong(0) + 1
      val cands = c.select(col("id").as("x_id"), (col("id") + off).as("y_id"))
        .unionByName(c.select(
          col("id").as("x_id"),
          (pmod(col("id") + 1, lit(n)) + off).as("y_id")))
      RecordLinkage
        .scorePairs(c, b, "id", "id", attrs, cands, w, thetaNum = 1000L)
        .orderBy("x_id", "y_id")
    }),

    // Unsupervised Fellegi–Sunter (round-12): the q168 fixture scored
    // with NO labeled sample — m/u fitted by 8 fixed-point-integer EM
    // iterations over the agreement-pattern histogram (Winkler 1988),
    // every division an explicit floor at scale 10^6, so the DuckDB
    // oracle replays the whole fit bit-for-bit in HUGEINT. θ = 10^6:
    // EM's u is conditioned on candidate non-matches, a different scale
    // than q168's random-pair u.
    "q183_em_linkage" -> ((s, dir) => {
      import graft.operators.RecordLinkage
      val c = t(s, dir, "customer").select(
        col("c_custkey").as("id"),
        col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
      val off = 1000000L
      val b = c.select(
        (col("id") + off).as("id"),
        when(pmod(col("id"), lit(7)) === 0, concat(col("name"), lit("~")))
          .otherwise(col("name")).as("name"),
        when(pmod(col("id"), lit(5)) === 0, pmod(col("nat") + 1, lit(25)))
          .otherwise(col("nat")).as("nat"),
        when(pmod(col("id"), lit(11)) === 0, lit("UNKNOWN"))
          .otherwise(col("seg")).as("seg"),
        when(pmod(col("id"), lit(3)) === 0, col("cents") + 1)
          .otherwise(col("cents")).as("cents"))
      val attrs = Seq("name", "nat", "seg", "cents")
      val n = c.agg(max("id")).head().getLong(0) + 1
      val cands = c.select(col("id").as("x_id"), (col("id") + off).as("y_id"))
        .unionByName(c.select(
          col("id").as("x_id"),
          (pmod(col("id") + 1, lit(n)) + off).as("y_id")))
      val w = RecordLinkage.fsWeightsEm(c, b, "id", "id", cands, attrs, iters = 8)
      RecordLinkage
        .scorePairs(c, b, "id", "id", attrs, cands, w, thetaNum = 1000000L)
        .orderBy("x_id", "y_id")
    }),

    // Real-codec multimodal gate (round-12, closes the last stub seam):
    // deterministic 16×16 binary-PPM payloads round-trip through the REAL
    // decoder — parsePpm over actual P6 bytes, integer-exact average hash
    // (299/587/114 per-mille luminance, cross-multiplied mean compare) —
    // then the pigeonhole pair join finds the planted near-duplicates.
    // The oracle regenerates the PIXELS from the integer recipe and
    // replays every hash bit; a decoder bug breaks the hash match.
    "q184_ppm_ahash" -> ((s, dir) => {
      import graft.operators.Multimodal
      val ids = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id").as("k"))
      val variants = ids
        .select(col("k"), col("k").as("media_id"), lit(false).as("ed"))
        .unionByName(
          ids.select(col("k"), (col("k") + 100000L).as("media_id"), lit(true).as("ed")))
      val mk = udf((k: Long, ed: Boolean) => Multimodal.mkPpmFixture(k, ed))
      val media = variants.select(col("media_id"), mk(col("k"), col("ed")).as("payload"))
      graft.operators.Dedup.fingerprintPairs(
          Multimodal.pixelHashes(media, Multimodal.pixelAHashExact)
            .select(col("media_id").as("sid"), col("fp")),
          maxHamming = 3)
        .select(col("x_id"), col("y_id"), col("hamming").cast("long").as("hamming"))
        .orderBy("x_id", "y_id")
    }),

    // Snapshot drift (round-12): χ²-shaped per-bucket divergence on exact
    // basis-point shares between a reference and a current corpus slice —
    // the current side drops half its 'de' documents, so that bucket must
    // surface as the top mover; integer floor math replays exactly.
    "q187_chi_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val cur = docs.filter(
        pmod(col("doc_id"), lit(2)) === 1 &&
          !(col("lang") === "de" && pmod(col("doc_id"), lit(4)) === 1))
      graft.operators.Drift.chiDrift(ref, cur, "lang").orderBy("bucket")
    }),

    // Diversity coreset (round-12): greedy k-center over the embeddings
    // table — the farthest-point traversal, 8 rounds unrolled in the
    // oracle with index-order distance folds (the q22/q24 float
    // discipline); ties break to the smaller id, seed = min id.
    "q185_kcenter_coreset" -> ((s, dir) => {
      graft.operators.Coreset.kCenters(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .select(col("rank"), col("id").as("vec_id"), round(col("d2"), 4).as("d2"))
        .orderBy("rank")
    }),

    // Frequent-line boilerplate removal (round-12, C4 §2.2 shape): lines
    // appearing in ≥ 20 distinct docs of the SAME source are template,
    // not content — removed from every doc, survivors reassembled in
    // original order. The synthetic corpus is single-line, so the
    // fixture's "lines" are the word grain (delimiter ' '): the machinery
    // (per-source distinct-doc counts, all-occurrence removal, ordered
    // reassembly) is exactly the line-grain plan.
    "q189_boilerplate" -> ((s, dir) => {
      graft.operators.Boilerplate
        .removeLines(t(s, dir, "documents"), "doc_id", "text", "source",
          delim = " ", minDocs = 20L)
        .orderBy("id")
    }),

    // Preference-pair construction (round-12, RLHF/DPO prep): per source,
    // the best-vs-worst candidate by score (here: text length as the
    // stand-in quality signal) with deterministic id tie-breaks and a
    // margin floor — ONE map-side-combinable min(struct) aggregate, no
    // windows, celebrity-group safe.
    "q190_preference_pairs" -> ((s, dir) => {
      graft.operators.PreferencePairs
        .pairs(
          t(s, dir, "documents")
            .select(col("source"), col("doc_id"), length(col("text")).as("score")),
          "source", "doc_id", "score", minMargin = 1L)
        .orderBy("g")
    }),

    // Dictionary phrase matching (round-12, gazetteer tagging): a 5-phrase
    // dictionary RELATION matched against the whole corpus in ONE pass —
    // rarest-token anchors broadcast onto positional postings, exact
    // slice verify; candidate volume is selectivity-bound (Σ occurrences
    // of each phrase's rarest token), never corpus × dictionary scans.
    "q195_dictionary_match" -> ((s, dir) => {
      import s.implicits._
      val dict = Seq(
        ("p_fast_table", "fast table"),
        ("p_ghost", "zz unseen gram"),
        ("p_key_agg", "key agg"),
        ("p_spark_win", "spark window"),
        ("p_tbl3", "table table table")).toDF("pid", "phrase")
      graft.operators.KeywordSearch
        .dictionaryMatch(t(s, dir, "documents"), "doc_id", "text", dict, "pid", "phrase")
        .orderBy("id", "phrase_id")
    }),

    // Priority sampling (round-12): per-language weighted sample of 20
    // docs (weight = length), k+1 sketch rows, ŵ = max(w, τ) subset-sum
    // estimates in exact ppm — the mergeable bounded-state weighted
    // sampler next to q166's exact-but-global PPS pass.
    "q199_priority_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("doc_id"), length(col("text")).as("w"))
      graft.operators.PrioritySample
        .estimates(
          graft.operators.PrioritySample.sketch(docs, Seq("lang"), "doc_id", "w", 20),
          Seq("lang"), 20)
        .orderBy("lang", "id")
    }),

    // Link prediction (round-12): common-neighbor / Jaccard-bp /
    // resource-allocation-ppm scores for non-adjacent pairs of the q100
    // SimHash document graph — one capped wedge join grouped to pairs,
    // one anti-join; centers above degree 200 certify nothing and are
    // excluded (Σ wedges ≤ m·cap, hub-proof).
    "q201_link_prediction" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      graft.operators.LinkPrediction
        .scores(edges, minCommon = 2, maxCenterDegree = 200)
        .orderBy("x", "y")
    }),

    // Leave-one-out target encoding (round-12): P(lang = en | source)
    // with each document excluded from its own estimate — the
    // high-cardinality categorical feature without label leakage;
    // singletons fall back to the global prior, exact ppm floors.
    "q212_target_encoding" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(
        col("doc_id"),
        col("source"),
        when(col("lang") === "en", 1L).otherwise(0L).as("is_en"))
      graft.operators.TargetEncoding
        .leaveOneOut(docs, "doc_id", "source", "is_en")
        .orderBy("id")
    }),

    // Degree assortativity (round-12): does the SimHash document graph
    // wire hubs to hubs? The sqrt-free symmetric Pearson identity in
    // exact ppm, plus the Σd² wedge-volume number every pair-join plan
    // decision reads.
    "q220_assortativity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      graft.operators.GraphStats.assortativity(edges)
    }),

    // Edge triangle support (round-12): the k-truss building block and
    // tie-strength signal over the SimHash graph — each oriented
    // triangle explodes into its 3 edges, one grouped count; bridges
    // report 0.
    "q221_edge_support" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      graft.operators.Triangles.edgeSupport(edges).orderBy("a", "b")
    }),

    // Blocking-quality report (round-12): would 16-char prefix blocking
    // be good enough for near-dup linkage? Pairs completeness against
    // the q19 MinHash dup clusters + reduction ratio, all from size
    // histograms — no candidate pair ever materializes.
    "q215_blocking_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = graft.operators.Dedup.minhashDedup(
        SimilarityJoin.tokenize(docs, "doc_id", "text"), tau = 0.8)
      val blocks = docs.select(col("doc_id"), substring(col("text"), 1, 16).as("blk"))
      graft.operators.BlockingQuality.report(
        blocks,
        clusters.select(col("sid").as("doc_id"), col("rep")),
        "doc_id", "blk", "rep")
    }),

    // B³ clustering evaluation (round-13): how language-pure are the
    // MinHash dedup clusters? Item-weighted precision/recall of the q19
    // clustering against `lang` gold labels — the ER-evaluation
    // standard pairwise counts over-weight big clusters on; one
    // (cluster, label) histogram pass, exact ppm floors.
    "q238_bcubed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = graft.operators.Dedup.minhashDedup(
        SimilarityJoin.tokenize(docs, "doc_id", "text"), tau = 0.8)
      graft.operators.BCubed.score(
        docs.select(col("doc_id").as("id"), col("lang").as("label"))
          .join(clusters.select(col("sid").as("id"), col("rep").as("cluster")),
            "id"))
    }),

    // Flesch readability (round-13): the classic reading-ease quality
    // signal in exact milli-scale integers — defined surrogate counts
    // (whitespace words, [.!?] sentences, [aeiouy]+ runs floored at one
    // per word), floored divisions, standard bands; pure codegen
    // projection, no UDF.
    "q239_readability" -> ((s, dir) =>
      graft.operators.Readability
        .flesch(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Conductance sweep cut (round-13): the q132 PPR scores turned into
    // an actual LOCAL COMMUNITY — nodes ordered by (10¹²·score) div deg,
    // prefix conductance in exact ppm via the incremental-cut identity,
    // best_rank = the ACL community boundary around the seed documents.
    "q237_sweep_cut" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val pairs = graft.operators.Dedup.simhashPairs(toks, maxHamming = 3)
      val edges = pairs.select(col("x_id").as("a"), col("y_id").as("b"))
        .unionByName(pairs.select(col("y_id").as("a"), col("x_id").as("b")))
      val ppr = graft.operators.PageRank.personalizedRanks(
        docs.select(col("doc_id").as("id")),
        edges,
        docs.filter(col("doc_id") < 25).select(col("doc_id").as("id")),
        iters = 2)
      graft.operators.SweepCut.sweep(
        ppr.select(col("id"), col("rank").as("score")),
        pairs.select(col("x_id").as("a"), col("y_id").as("b")),
        m = 200)
        .orderBy("rank")
    }),

    // k-truss (round-13): the 4-truss of the SimHash near-dup doc graph
    // — three synchronous edge peels, each a degree-oriented O(m^1.5)
    // support pass; genuinely cohesive duplicate cliques survive while
    // pair/chain coincidence edges peel away. Fixed-round,
    // SQL-replayable (the KCore q131 discipline at EDGE grain).
    "q236_truss" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      // Hamming ≤ 2 (tighter than q100's 3): the ≤ 3 graph carries 15M
      // triangles in its giant near-dup cliques at sf0.1 — support
      // passes are Σ-triangle-sized, so the substrate sets the cost
      val pairs = graft.operators.Dedup.simhashPairs(toks, maxHamming = 2)
      graft.operators.Truss
        .peel(pairs.select(col("x_id").as("a"), col("y_id").as("b")),
          k = 4, rounds = 3)
        .orderBy("a", "b")
    }),

    // Modularity (round-13): is the SimHash near-dup graph language-
    // aligned? Newman Q of the `lang` partition over the q100/q120 doc
    // graph in exact ppm (Q·4m² integers) — near-duplicates should
    // overwhelmingly pair within a language; a low Q here flags
    // cross-language template contamination. Per-community contribs
    // name the languages carrying (or breaking) the structure.
    "q227_modularity" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val toks = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val edges = graft.operators.Dedup.simhashPairs(toks, maxHamming = 3)
        .select(col("x_id").as("a"), col("y_id").as("b"))
      graft.operators.Modularity
        .score(edges, docs.select(col("doc_id").as("id"), col("lang").as("label")))
        .orderBy("label")
    }),

    // χ² independence (round-13): is `lang` independent of `source`?
    // The r×c generalization of q224's 2×2 z² — exact ppm contribs per
    // cell (absent cells enumerated from the marginals), the scalar χ²
    // and dof repeated per row; a skewed cell means one crawl feeds one
    // language, the mixing bug marginal histograms can't see.
    "q228_chi2_independence" -> ((s, dir) =>
      graft.operators.ChiSquare
        .independence(t(s, dir, "documents"), "lang", "source")
        .orderBy("x", "y")),

    // Split-conformal calibration (round-13): threshold the doc-length
    // nonconformity score on the even-id calibration half at α = 1/10,
    // measure realized coverage on the odd-id half — the distribution-
    // free ≥ 90 % guarantee shipping WITH its empirical check (the
    // q130 recall-certificate idiom).
    "q229_conformal" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("score"))
      graft.operators.Conformal.calibrate(
        scored.filter(pmod(col("doc_id"), lit(2)) === 0),
        scored.filter(pmod(col("doc_id"), lit(2)) === 1),
        "score", alphaNum = 1, alphaDen = 10)
    }),

    // Effective sample size (round-13): if documents were importance-
    // weighted by length, how many unweighted docs is each language's
    // sample worth? Kish ESS + design effect in exact ppm — the
    // one-aggregate health check for every weighted estimator in the
    // sampling tier.
    "q230_ess" -> ((s, dir) =>
      graft.operators.EffectiveSampleSize
        .perGroup(
          t(s, dir, "documents").select(
            col("lang"), greatest(length(col("text")), lit(1)).as("w")),
          Seq("lang"), "w")
        .orderBy("lang")),

    // NFC normalization (round-12): the codegen'd nfc_normalize
    // expression over document text salted with DECOMPOSED suffixes
    // (e+U+0301 etc.) — the canonicalization every mixed-source corpus
    // needs before dedup/tokenize; output proves composition (lengths
    // shrink by exactly the combining marks) and is byte-oracled via
    // DuckDB's UAX #15 implementation.
    "q216_nfc_normalize" -> ((s, dir) => {
      graft.functions.NfcNormalize.register(s)
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          concat(substring(col("text"), 1, 40),
            lit(" cafe\u0301 A\u030angstro\u0308m")).as("raw"))
        .selectExpr(
          "doc_id",
          "length(raw) AS n_raw",
          "length(nfc_normalize(raw)) AS n_nfc",
          "nfc_normalize(raw) AS norm")
        .orderBy("doc_id")
    }),

    // Leakage-safe split (round-11): the 80/10/10 split keyed on q19's
    // MinHash dup-cluster representative, so near-duplicate documents
    // can never straddle train and test — co-membership is a theorem
    // (equal rep => equal split), the eval-contamination guarantee a
    // per-document hash split cannot give.
    "q167_leakage_safe_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = graft.operators.Dedup.minhashDedup(
        SimilarityJoin.tokenize(docs, "doc_id", "text"), tau = 0.8)
      graft.operators.Sampling.leakageSafeSplit(
          docs.select("doc_id"), "doc_id", clusters, "sid", "rep",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .orderBy("doc_id")
    }),

    // PPS systematic sampling (round-11): k=100 draws with inclusion
    // probability exactly proportional to document length, one prefix-sum
    // pass, integer midpoint-target arithmetic — Σ n_hits = k by
    // telescoping, per-row hits ∈ {⌊kw/W⌋, ⌈kw/W⌉} (spec-pinned).
    "q166_pps_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("w"))
      graft.operators.Sampling.ppsSystematic(docs, "doc_id", "w", k = 100)
        .orderBy("doc_id")
    }),

    // Minimal changelog extraction (round-11): the inverse of q162's
    // MERGE over the q75 snapshot fixture — upserts carry new values,
    // deletes carry NULLs, unchanged keys are absent; digests (not
    // documents) ride the comparison shuffle.
    "q163_cdc_changelog" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldSnap = docs.filter(pmod(col("doc_id"), lit(7)) =!= 3)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(5)) === 1, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      val newSnap = docs.filter(pmod(col("doc_id"), lit(9)) =!= 4)
      graft.operators.Cdc
        .changelog(oldSnap, newSnap, "doc_id", Seq("text", "lang", "source"))
        .orderBy("doc_id")
    }),

    // IVF index MAINTENANCE: the index is built on the initial corpus
    // (vec_id >= 100, centroids frozen there), a later increment
    // (vec_id < 100) is upserted against the frozen centroids, and the
    // probe runs over the merged index. The oracle replays centroids from
    // the initial slice and assigns ALL vectors against them — exactly
    // the frozen-centroid contract.
    "q144_ivf_upsert" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val initial = emb.filter(col("vec_id") >= 100)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val adds = emb.filter(col("vec_id") < 100)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val (cents, assigned) = graft.operators.SimilaritySearch.buildIvfIndex(initial, 64)
      val merged = assigned.unionByName(
        graft.operators.SimilaritySearch.upsertIvfIndex(cents, adds))
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.SimilaritySearch.ivfTopKFromIndex(queries, cents, merged, 10)
        .select(
          col("q_id"),
          col("n_id"),
          col("rank").cast("long").as("rank"),
          round(col("sim"), 4).as("sim"))
        .orderBy("q_id", "rank")
    }),

    // Chunk→document embedding pooling on the exact 2^20 fixed-point grid
    // (groups of 4 consecutive chunk vectors stand in for one document's
    // chunks): integer sum ÷ count, so the pooled vector is identical
    // under any aggregation order — exactly SQL-replayable.
    "q145_embed_pool" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.SimilaritySearch
        .meanPoolQuantized(
          emb.select(expr("vec_id div 4").as("gid"), col("embedding").as("emb")))
        .orderBy("gid", "dim")
    }),

    // Johnson–Lindenstrauss recall certificate: exact top-10 in the
    // 64-dim float space vs top-10 after the md5-derived ±1 sign
    // projection to 16 dims — the measurement that certifies a 4×
    // dimension cut before it's applied corpus-wide (the embedding-space
    // analogue of q138's LSH banding certificate). Integer projections on
    // the 2^14 grid; both rankings id-tiebroken, so recall is exact.
    "q146_jl_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val corpus = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      graft.operators.SimilaritySearch
        .jlRecall(queries, corpus, dim = 64, outDims = 16, k = 10)
        .orderBy("q_id")
    }),

    // Cohen's κ between the gold `lang` label and the q26 stopword
    // language-ID — chance-corrected rater agreement, the label-quality
    // audit. Gold includes 'zh', which the stopword profiles can never
    // predict — a structural disagreement κ prices in while raw
    // agreement ignores.
    "q148_rater_kappa" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pred = graft.operators.TextAnalysis
        .languageId(docs, "doc_id", "text")
        .select("doc_id", "lang_pred")
      graft.operators.ModelEval
        .cohenKappa(docs.select("doc_id", "lang").join(pred, "doc_id"), "lang", "lang_pred")
    }),

    // Distinct-l-diversity release (the homogeneity-attack fix on top of
    // q136's k-anonymity): QI = (lang, size bucket), sensitive = source —
    // a combo clearing k rows is still suppressed unless it carries ≥ l
    // DISTINCT sources. k=13 passes every combo at sf0.01, so the l gate
    // alone decides — the case k-anonymity cannot express.
    "q150_ldiversity" -> ((s, dir) =>
      graft.operators.KAnonymity
        .suppressDiverse(
          t(s, dir, "documents")
            .select(
              col("doc_id"), col("lang"),
              expr("n_chars div 200").cast("long").as("szb"), col("source")),
          Seq("lang", "szb"), "source", k = 13, l = 13)
        .orderBy("doc_id")),

    // All decontamination tiers folded into one per-document verdict —
    // see [[deconVerdict]].
    "q151_decon_verdict" -> ((s, dir) => deconVerdict(s, dir)),

    // Product-quantization ADC search: 4 subspaces × 16 codes (64 float
    // dims → 4 bytes/vector), integer-centroid Lloyd codebooks, per-query
    // distance TABLE against codes — the FAISS-style serving shape. Every
    // distance is an exact integer; the oracle replays seeding, both
    // Lloyd rounds, encode, and ADC bit-for-bit.
    "q154_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val vecs = emb.select(col("vec_id").as("vid"), col("embedding").as("emb"))
      val books = graft.operators.Pq.trainCodebooks(vecs, 64, 4, 16, iters = 2)
      val codes = graft.operators.Pq.encode(vecs, books, 64, 4)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.Pq.adcTopK(q, books, codes, 10, 64, 4)
        .orderBy("q_id", "rank")
    }),

    // IVF-PQ: the composed serving index — coarse cosine cells prune
    // candidates (nProbe=4 of 16), ADC scores only the probed cells'
    // 4-byte codes. The oracle replays the coarse index (q44's recipe),
    // the PQ training (one Lloyd round), encode, and the pruned ADC.
    "q155_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val vecs = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
      val (cents, assigned) =
        graft.operators.SimilaritySearch.buildIvfIndex(vecs, 16)
      val pqCorpus = emb.select(col("vec_id").as("vid"), col("embedding").as("emb"))
      val books = graft.operators.Pq.trainCodebooks(pqCorpus, 64, 4, 16, iters = 1)
      val codes = graft.operators.Pq.encode(pqCorpus, books, 64, 4)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      graft.operators.Pq
        .ivfPqTopK(q, cents, assigned.select("n_id", "cell"), books, codes,
          k = 10, dim = 64, m = 4, nProbe = 4)
        .orderBy("q_id", "rank")
    }),

    // Golden-record survivorship over the q68 near-dup clusters: each
    // duplicate class releases ONE record — longest text, max n_chars,
    // majority lang/source (count-desc value-asc argmax, NOT the
    // engines' tie-unspecified native mode), min doc_id as canonical.
    "q159_golden_record" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tokens = SimilarityJoin.tokenize(docs, "doc_id", "text")
      val scores = docs.select(col("doc_id").as("sid"), col("n_chars").as("score"))
      val labels = Dedup.minhashDedupKeepBest(tokens, scores, tau = 0.8)
        .select(col("sid").as("doc_id"), col("rep"))
      graft.operators.Survivorship
        .goldenRecord(
          docs.join(labels, "doc_id"), "rep", "doc_id",
          longestCols = Seq("text"),
          maxCols = Seq("n_chars"),
          modeCols = Seq("lang", "source"))
        .orderBy("rep")
    }),

    // Pareto-front curation: the documents no other document beats on
    // ALL of (length, lexical diversity, low repetition) — multi-
    // objective selection with no scalar score. Two-phase distributed
    // skyline (bucket-local fronts, then survivors²); oracle = the
    // brute-force NOT EXISTS dominance.
    "q156_pareto_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tk = filter(split(col("text"), " "), x => length(x) > 0)
      val crit = docs.select(col("doc_id"), tk.as("__t"))
        .select(
          col("doc_id"),
          size(col("__t")).cast("long").as("n_tokens"),
          size(array_distinct(col("__t"))).cast("long").as("n_uniq"),
          (-graft.operators.TextAnalysis.topTokenCount(col("__t"))).cast("long").as("neg_top"))
      graft.operators.Skyline
        .paretoFront(crit, "doc_id", Seq("n_tokens", "n_uniq", "neg_top"))
        .orderBy("doc_id")
    }))

  /** q151: the decontamination VERDICT — every tier of the family (q57
    * exact 5-grams, q65 fuzzy Jaccard, q135 semantic embedding) run over
    * ONE corpus/eval split and folded into a per-document verdict row.
    * The corpus's chunk embeddings additionally carry PLANTED paraphrase
    * chunks (eval chunks + ε under synthetic doc ids 10000+evalDoc):
    * contamination with no text overlap at all, so those docs are caught
    * by the semantic tier ALONE — the reason the family has three tiers,
    * visible in one relation.
    */
  private def deconVerdict(
      s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val eval = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select(col("doc_id").as("e_id"), col("text").as("e_text"))
    val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
    val exact = graft.operators.Decontamination
      .flag(corpus, "doc_id", "text", eval, "e_id", "e_text", n = 5)
      .select(col("doc_id"), col("n_hit_grams"))
    val fuzzy = graft.operators.Decontamination
      .flagFuzzy(corpus, "doc_id", "text", eval, "e_id", "e_text", tau = 0.8)
      .groupBy("doc_id")
      .agg(count_distinct(col("eval_id")).as("n_fuzzy_evals"))
    val emb = t(s, dir, "embeddings")
    val evalChunks = emb.filter(expr("(vec_id div 4) % 50 = 0"))
      .select(col("vec_id").as("e_vid"), col("embedding").as("e_emb"))
    // chunk id carries its document: cid = doc * 100000 + vec (vec_id
    // stays < 100000 at every SF)
    val corpusChunks = emb.filter(expr("(vec_id div 4) % 50 <> 0"))
      .select(expr("(vec_id div 4) * 100000 + vec_id").as("cid"), col("embedding"))
    val planted = evalChunks.select(
      (expr("(e_vid div 4) + 10000") * 100000L + col("e_vid")).as("cid"),
      zip_with(
        col("e_emb"),
        sequence(lit(0), lit(63)),
        (x, i) =>
          (x.cast("double") +
            when(pmod(i, lit(2)) === 0, lit(0.003)).otherwise(lit(-0.003)))
            .cast("float")).as("embedding"))
    val sem = graft.operators.Decontamination
      .flagSemantic(
        corpusChunks.unionByName(planted), "cid", "embedding",
        evalChunks, "e_vid", "e_emb", tau = 0.99)
      .select(expr("cid div 100000").as("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sem_chunks"))
    val ids = exact.select("doc_id")
      .unionByName(fuzzy.select("doc_id"))
      .unionByName(sem.select("doc_id"))
      .distinct()
    ids
      .join(exact, Seq("doc_id"), "left")
      .join(fuzzy, Seq("doc_id"), "left")
      .join(sem, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_fuzzy_evals"), lit(0L)).as("n_fuzzy_evals"),
        coalesce(col("n_sem_chunks"), lit(0L)).as("n_sem_chunks"))
      .withColumn(
        "n_tiers",
        ((col("n_hit_grams") > 0).cast("long") +
          (col("n_fuzzy_evals") > 0).cast("long") +
          (col("n_sem_chunks") > 0).cast("long")))
      .orderBy("doc_id")
  }

  /** q78 fixture vocab: single letters (minus 'd' starts / '##p' conts) +
    * multi-char pieces that make greedy longest-match visible. Shared by
    * the Spark query and the generated oracle CASE chains — one source of
    * truth for both engines.
    */
  val wpStarts: Seq[String] =
    "abcefghijklmnopqrstuvwy".map(_.toString) ++
      Seq("sca", "jo", "wind", "str", "me", "qu", "val", "cust", "ta", "ba",
        "fil", "gro", "sma", "sl")
  val wpConts: Seq[String] =
    "abcdefghijklmnoqrstuvwy".map(_.toString) ++
      Seq("an", "in", "ow", "eam", "rge", "ort", "ue", "ery", "omer", "ine", "dow")

  /** Longest-first `CASE WHEN starts_with(rem, piece) …` chain for the
    * oracle's greedy-match step (two distinct same-length pieces can't
    * both prefix one remainder, so longest-first is a total decision).
    */
  private def wpChain(vocab: Seq[String]): String =
    vocab.sortBy(v => -v.length)
      .map(v => s"WHEN starts_with(rem, '$v') THEN '$v'")
      .mkString("CASE ", " ", " ELSE NULL END")

  /** One BPE training round as oracle CTEs (q117/q118): weighted adjacent
    * pair counts over the previous word relation, deterministic argmax,
    * two-pass replace (the operator's documented merge semantics), and the
    * post-merge corpus symbol count.
    */
  private def bpeRound(i: Int): String = {
    val prev = s"w${i - 1}"
    s"""p$i AS (
       |  SELECT y[j] AS a, y[j + 1] AS b, sum(cnt) AS pc
       |  FROM (SELECT cnt, list_filter(string_split(s, ' '), x -> x <> '') AS y FROM $prev),
       |       unnest(range(1, greatest(len(y), 1))) r(j)
       |  GROUP BY 1, 2),
       |b$i AS (SELECT a, b, CAST(pc AS BIGINT) AS pc FROM p$i ORDER BY pc DESC, a, b LIMIT 1),
       |w$i AS (SELECT cnt,
       |               replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
       |                       ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
       |        FROM $prev, b$i),
       |s$i AS (SELECT CAST(sum(cnt * len(list_filter(string_split(s, ' '), x -> x <> ''))) AS BIGINT) AS cs
       |        FROM w$i)""".stripMargin
  }

  /** Shared q131/q132/q133 prefix: the q100-family SimHash pair graph as
    * directed edge relation `e` (both directions) over `documents`.
    */
  private def simhashEdgeCte: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
      |  FROM documents),
      |th AS (SELECT doc_id, md5(t) AS m FROM tok),
      |sgn AS (
      |  SELECT doc_id, r.p AS p,
      |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
      |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th, range(0, 64) r(p)
      |  GROUP BY doc_id, r.p),
      |fp AS (
      |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
      |  FROM sgn GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS x, b.doc_id AS y
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
      |e AS (SELECT x AS a, y AS b FROM pairs UNION ALL SELECT y, x FROM pairs),
      |""".stripMargin

  /** k-truss replay (q236): the SimHash pair CTE at the given Hamming
    * radius (the q120 fingerprint construction), then `rounds`
    * unrolled synchronous EDGE peels — per round, triangles over the
    * canonical a<b survivors via the x<y<z three-way join, support by
    * exploding each triangle into its 3 edges, survivors at support ≥
    * k−2 — plus one final support pass (mirrors
    * [[graft.operators.Truss.peel]] returning edgeSupport of the
    * survivors). Every per-round CTE is MATERIALIZED: t references e
    * thrice and s references t thrice, so the inlined form re-evaluates
    * the recursion 9^r times and exhausts file handles (the q226
    * lesson).
    */
  private def trussOracle(k: Int, rounds: Int, maxHamming: Int): String = {
    val sb = new StringBuilder(
      s"""WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |e1 AS MATERIALIZED (
        |  SELECT CAST(a.doc_id AS BIGINT) AS a, CAST(b.doc_id AS BIGINT) AS b
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i]))
        |        <= $maxHamming)""".stripMargin)
    for (r <- 1 to rounds + 1) {
      sb ++= s""",
        |t$r AS MATERIALIZED (
        |  SELECT e1x.a AS x, e1x.b AS y, e2x.b AS z
        |  FROM e$r e1x JOIN e$r e2x ON e2x.a = e1x.a AND e2x.b > e1x.b
        |       JOIN e$r e3x ON e3x.a = e1x.b AND e3x.b = e2x.b),
        |s$r AS MATERIALIZED (
        |  SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM (
        |    SELECT x AS a, y AS b FROM t$r
        |    UNION ALL SELECT x, z FROM t$r
        |    UNION ALL SELECT y, z FROM t$r)
        |  GROUP BY a, b)""".stripMargin
      if (r <= rounds) sb ++= s""",
        |e${r + 1} AS MATERIALIZED (
        |  SELECT e.a, e.b FROM e$r e
        |  JOIN s$r s ON s.a = e.a AND s.b = e.b
        |  WHERE s.c >= ${k - 2})""".stripMargin
    }
    sb ++= s"""
      |SELECT e.a, e.b, CAST(coalesce(s.c, 0) AS BIGINT) AS support
      |FROM e${rounds + 1} e
      |LEFT JOIN s${rounds + 1} s ON s.a = e.a AND s.b = e.b
      |ORDER BY e.a, e.b""".stripMargin
    sb.toString
  }

  /** One synchronous k-peel as oracle CTEs (q131). */
  private def kcoreRound(i: Int, k: Int): String =
    s"""d$i AS (
       |  SELECT e.b AS id, count(*) AS d
       |  FROM e JOIN s${i - 1} x ON e.a = x.id JOIN s${i - 1} y ON e.b = y.id
       |  GROUP BY e.b),
       |s$i AS (SELECT id FROM d$i WHERE d >= $k),""".stripMargin

  /** One damped personalized-PageRank round as oracle CTEs (q132). */
  private def pprRound(i: Int): String =
    s"""c$i AS (
       |  SELECT e.b AS id, sum(r${i - 1}.r // od.d) AS s
       |  FROM e JOIN r${i - 1} ON e.a = r${i - 1}.id JOIN od ON e.a = od.id
       |  GROUP BY e.b),
       |r$i AS (
       |  SELECT sb.id, sb.isrc * 150000000000 + (85 * COALESCE(c$i.s, 0)) // 100 AS r
       |  FROM sb LEFT JOIN c$i ON sb.id = c$i.id),""".stripMargin

  /** One synchronous BFS relaxation as oracle CTEs (q133). */
  private def bfsRound(i: Int): String =
    s"""x$i AS (
       |  SELECT e.b AS id, min(b${i - 1}.dist + 1) AS nd
       |  FROM e JOIN b${i - 1} ON e.a = b${i - 1}.id AND b${i - 1}.dist >= 0
       |  GROUP BY e.b),
       |b$i AS (
       |  SELECT b${i - 1}.id,
       |         CASE WHEN b${i - 1}.dist >= 0
       |                THEN least(b${i - 1}.dist, COALESCE(x$i.nd, b${i - 1}.dist))
       |              ELSE COALESCE(x$i.nd, -1) END AS dist
       |  FROM b${i - 1} LEFT JOIN x$i ON b${i - 1}.id = x$i.id),""".stripMargin

  /** One fixed-point EM iteration as oracle CTEs (q183): mirrors
    * RecordLinkage.fsWeightsEm's integer arithmetic exactly — the E-step
    * posterior w = ⌊pm·10⁶/(pm+pu)⌋ in HUGEINT, the M-step floor
    * divisions with the same [1, 999999] clamps.
    */
  private def emRound(t: Int): String = {
    val prev = s"em${t - 1}"
    def cases(param: Char) = (1 to 4).map(i =>
      s"* (CASE WHEN h.g$i THEN s.$param$i ELSE 1000000 - s.$param$i END)")
      .mkString("\n       |            ", "\n       |            ", "")
    val mCols = (1 to 4).map(i =>
      s"greatest(1, least(999999, (sum(CASE WHEN g$i THEN c*w ELSE 0 END) * 1000000)" +
        s" // greatest(sum(c*w), 1))) AS m$i").mkString(",\n       |         ")
    val uCols = (1 to 4).map(i =>
      s"greatest(1, least(999999, (sum(CASE WHEN g$i THEN c*(1000000-w) ELSE 0 END) * 1000000)" +
        s" // greatest(sum(c*(1000000-w)), 1))) AS u$i").mkString(",\n       |         ")
    s"""e$t AS (
       |  SELECT h.g1, h.g2, h.g3, h.g4, h.c,
       |         (s.p${cases('m')}) AS pm,
       |         ((1000000 - s.p)${cases('u')}) AS pu
       |  FROM hist h, $prev s),
       |f$t AS (SELECT g1, g2, g3, g4, c, (pm * 1000000) // (pm + pu) AS w FROM e$t),
       |em$t AS (
       |  SELECT greatest(1, least(999999, sum(c*w) // (SELECT n FROM nn))) AS p,
       |         $mCols,
       |         $uCols
       |  FROM f$t),""".stripMargin
  }

  /** One greedy k-center round as oracle CTEs (q185): min distance to the
    * chosen centers (index-order Σ(x−y)² folds — Coreset.d2To op for op),
    * argmax with the id tiebreak.
    */
  private def kcRound(r: Int): String = {
    def d2(c: String) =
      s"list_sum(list_transform(range(1, 65), i -> (e.emb[i] - $c.emb[i]) * (e.emb[i] - $c.emb[i])))"
    val terms =
      if (r == 2) d2("c1")
      else (1 until r).map(j => d2(s"c$j"))
        .mkString("least(\n       |           ", ",\n       |           ", ")")
    s"""d$r AS (
       |  SELECT e.id, e.emb, $terms AS d2
       |  FROM e${(1 until r).map(j => s", c$j").mkString}),
       |c$r AS (SELECT id, emb, d2 FROM d$r ORDER BY d2 DESC, id LIMIT 1),""".stripMargin
  }

  /** Shared q128/q129/q130 prefix: per-vector int8 quantization (exact
    * scale, fixed-order IEEE rounding — mirrors
    * SimilaritySearch.quantizeInt8 op for op).
    */
  private def quantCte: String =
    """WITH e AS (
      |  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM embeddings),
      |sv AS (
      |  SELECT vec_id, emb,
      |         COALESCE(list_max(list_transform(emb, x -> abs(x))), 0) AS scale
      |  FROM e),
      |cd AS (
      |  SELECT vec_id, scale,
      |         list_transform(range(1, len(emb) + 1), j ->
      |           CASE WHEN scale = 0 THEN CAST(0 AS BIGINT)
      |                ELSE CAST(floor(emb[j] / scale * 127 + 0.5) AS BIGINT) END) AS codes
      |  FROM sv),
      |""".stripMargin

  /** Shared q129/q130 int8 ranking: integer dot/norms, one sqrt + one
    * division, (score DESC, n_id) order.
    */
  private def quantRankCte: String =
    """qs AS (SELECT vec_id AS q_id, codes AS qc FROM cd WHERE vec_id < 10),
      |pp AS (
      |  SELECT qs.q_id, n.vec_id AS n_id,
      |         list_sum(list_transform(range(1, len(qs.qc) + 1), j -> qs.qc[j] * n.codes[j])) AS d,
      |         list_sum(list_transform(qs.qc, x -> x * x)) AS na,
      |         list_sum(list_transform(n.codes, x -> x * x)) AS nb
      |  FROM qs JOIN cd n ON n.vec_id <> qs.q_id),
      |qsc AS (
      |  SELECT q_id, n_id,
      |         CASE WHEN na = 0 OR nb = 0 THEN 0.0
      |              ELSE CAST(d AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) END AS qc2
      |  FROM pp),
      |irk AS (
      |  SELECT q_id, n_id, qc2,
      |         row_number() OVER (PARTITION BY q_id ORDER BY qc2 DESC, n_id) AS rank
      |  FROM qsc),
      |""".stripMargin

  /** Shared q124/q125 prefix: q77's hashed class-0 margin per doc (docs
    * with no tokens score 0) + the lang='en' binary label.
    */
  private def aucScoreCte: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents),
      |hb AS (
      |  SELECT doc_id,
      |         ((list_reduce(
      |             list_prepend(CAST(0 AS BIGINT),
      |               list_transform(string_split_regex(w, ''),
      |                              c -> CAST(unicode(c) AS BIGINT))),
      |             (h, c) -> ((h * 31 + c + 2147483648) % 4294967296 + 4294967296)
      |                         % 4294967296 - 2147483648)
      |           % 256) + 256) % 256 AS b
      |  FROM tok),
      |sc AS (
      |  SELECT d.doc_id,
      |         CAST(COALESCE(s.score, 0) AS BIGINT) AS score,
      |         CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id, SUM(((b * 2654435761) % 1001 + 1001) % 1001 - 500) AS score
      |    FROM hb GROUP BY doc_id) s ON d.doc_id = s.doc_id),
      |""".stripMargin

  /** Shared q117/q118 prefix: word counts → spaced symbols → 6 rounds. */
  private def bpeChain: String =
    """WITH wd AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |        FROM documents)
      |  GROUP BY w),
      |w0 AS (SELECT cnt, ' ' || regexp_replace(w, '(.)', '\1 ', 'g') || '</w> ' AS s FROM wd),
      |""".stripMargin + (1 to 6).map(bpeRound).mkString(",\n")

  val oracles: Map[String, String] = Map(

    "q236_truss" -> trussOracle(4, 3, 2),

    // sweep replay: the q132 PPR rounds, HUGEINT score/deg order key,
    // incremental cut via later-ranked edge assignment, ppm floors
    "q237_sweep_cut" ->
      (simhashEdgeCte +
        """n AS (SELECT doc_id AS id FROM documents),
          |sb AS (SELECT id, CASE WHEN id < 25 THEN 1 ELSE 0 END AS isrc FROM n),
          |od AS (SELECT a AS id, count(*) AS d FROM e GROUP BY a),
          |r0 AS (SELECT id, CAST(isrc * 1000000000000 AS BIGINT) AS r FROM sb),
          |""".stripMargin +
        (1 to 2).map(pprRound).mkString("\n") + "\n" +
        """ed AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
          |       FROM e GROUP BY a),
          |kx AS (
          |  SELECT r2.id, r2.r AS score, ed.degree,
          |         (CAST(r2.r AS HUGEINT) * 1000000000000) // ed.degree AS k
          |  FROM r2 JOIN ed ON ed.id = r2.id WHERE r2.r > 0),
          |rk AS (
          |  SELECT id, score, degree,
          |         CAST(row_number() OVER (ORDER BY k DESC, id) AS BIGINT) AS rank
          |  FROM kx),
          |topr AS (SELECT * FROM rk WHERE rank <= 200),
          |einc AS (
          |  SELECT greatest(x.rank, y.rank) AS rank, CAST(count(*) AS BIGINT) AS c
          |  FROM pairs p JOIN topr x ON x.id = p.x JOIN topr y ON y.id = p.y
          |  GROUP BY 1),
          |tv AS (SELECT 2 * CAST(count(*) AS BIGINT) AS tot FROM pairs),
          |sw AS (
          |  SELECT t.rank, t.id, t.score, t.degree,
          |         sum(t.degree) OVER (ORDER BY t.rank) AS vol,
          |         coalesce(sum(e2.c) OVER (ORDER BY t.rank), 0) AS ein
          |  FROM topr t LEFT JOIN einc e2 ON e2.rank = t.rank),
          |sw2 AS (
          |  SELECT rank, id, score, degree, vol, vol - 2 * ein AS cut, tot,
          |         CASE WHEN least(vol, tot - vol) = 0 THEN 1000000
          |              ELSE (1000000 * (vol - 2 * ein))
          |                   // least(vol, tot - vol) END AS cond_ppm
          |  FROM sw, tv),
          |best AS (SELECT rank AS best_rank FROM sw2 ORDER BY cond_ppm, rank LIMIT 1)
          |SELECT sw2.rank, CAST(sw2.id AS BIGINT) AS id,
          |       CAST(sw2.score AS BIGINT) AS score, sw2.degree,
          |       CAST(sw2.vol AS BIGINT) AS vol, CAST(sw2.cut AS BIGINT) AS cut,
          |       CAST(sw2.cond_ppm AS BIGINT) AS cond_ppm, best.best_rank
          |FROM sw2, best ORDER BY sw2.rank""".stripMargin),
    // Exact fixed-point LM scoring replay: LM admission + context counts,
    // per-doc floor-mean of bigram basis points, tercile thresholds from
    // descending rank positions (value-identical to the operator's
    // histogram fold), value-based bucketing.
    "q116_lm_buckets" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, w[i] AS w, w[i + 1] AS next
        |  FROM t, unnest(range(1, greatest(len(w), 1))) r(i)),
        |bi AS (
        |  SELECT w, next, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pairs GROUP BY w, next HAVING count(*) >= 5),
        |ctx AS (SELECT w, CAST(count(*) AS BIGINT) AS ctx FROM pairs GROUP BY w),
        |sc AS (
        |  SELECT p.doc_id,
        |         CAST(count(*) AS BIGINT) AS n_bigrams,
        |         CAST(sum(CASE WHEN bi.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |         CAST(sum(CASE WHEN bi.cnt IS NULL THEN 0
        |                       ELSE (10000 * bi.cnt) // ctx.ctx END) AS BIGINT) AS s
        |  FROM pairs p
        |  LEFT JOIN bi ON p.w = bi.w AND p.next = bi.next
        |  JOIN ctx ON p.w = ctx.w
        |  GROUP BY p.doc_id),
        |d AS (
        |  SELECT d.doc_id,
        |         COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |         COALESCE(sc.n_oov, 0) AS n_oov,
        |         CASE WHEN COALESCE(sc.n_bigrams, 0) = 0 THEN 0
        |              ELSE sc.s // sc.n_bigrams END AS score_bp
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT score_bp,
        |             row_number() OVER (ORDER BY score_bp DESC, doc_id) AS rk
        |      FROM d),
        |th AS (
        |  SELECT max(CASE WHEN rk = (n + 2) // 3 THEN score_bp END) AS t1,
        |         max(CASE WHEN rk = (2 * n + 2) // 3 THEN score_bp END) AS t2
        |  FROM r, n)
        |SELECT d.doc_id, d.n_bigrams, d.n_oov, d.score_bp,
        |       CASE WHEN d.score_bp >= th.t1 THEN 'head'
        |            WHEN d.score_bp >= th.t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM d, th ORDER BY d.doc_id""".stripMargin,

    "q117_bpe_train" ->
      (bpeChain + "\n" +
        """SELECT * FROM (
          |  SELECT CAST(1 AS INT) AS step, a AS lhs, b AS rhs, pc AS pair_cnt,
          |         (SELECT cs FROM s1) AS corpus_symbols FROM b1
          |  UNION ALL SELECT 2, a, b, pc, (SELECT cs FROM s2) FROM b2
          |  UNION ALL SELECT 3, a, b, pc, (SELECT cs FROM s3) FROM b3
          |  UNION ALL SELECT 4, a, b, pc, (SELECT cs FROM s4) FROM b4
          |  UNION ALL SELECT 5, a, b, pc, (SELECT cs FROM s5) FROM b5
          |  UNION ALL SELECT 6, a, b, pc, (SELECT cs FROM s6) FROM b6)
          |ORDER BY step""".stripMargin),

    "q118_bpe_encode" ->
      (bpeChain + ",\n" +
        """dw AS (
          |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
          |  FROM documents),
          |e0 AS (SELECT doc_id,
          |              ' ' || regexp_replace(w, '(.)', '\1 ', 'g') || '</w> ' AS s
          |       FROM dw),
          |e1 AS (SELECT doc_id,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e0, b1),
          |e2 AS (SELECT doc_id,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e1, b2),
          |e3 AS (SELECT doc_id,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e2, b3),
          |e4 AS (SELECT doc_id,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e3, b4),
          |e5 AS (SELECT doc_id,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e4, b5),
          |e6 AS (SELECT doc_id,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e5, b6),
          |enc AS (
          |  SELECT doc_id,
          |         CAST(count(*) AS BIGINT) AS n_words,
          |         CAST(sum(len(list_filter(string_split(s, ' '), x -> x <> ''))) AS BIGINT) AS n_bpe
          |  FROM e6 GROUP BY doc_id)
          |SELECT d.doc_id,
          |       COALESCE(enc.n_words, 0) AS n_words,
          |       COALESCE(enc.n_bpe, 0) AS n_bpe
          |FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id
          |ORDER BY d.doc_id""".stripMargin),

    "q137_tokenizer_fertility" ->
      (bpeChain + ",\n" +
        """dw AS (
          |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
          |  FROM documents),
          |e0 AS (SELECT doc_id, len(w) AS lw,
          |              ' ' || regexp_replace(w, '(.)', '\1 ', 'g') || '</w> ' AS s
          |       FROM dw),
          |e1 AS (SELECT doc_id, lw,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e0, b1),
          |e2 AS (SELECT doc_id, lw,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e1, b2),
          |e3 AS (SELECT doc_id, lw,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e2, b3),
          |e4 AS (SELECT doc_id, lw,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e3, b4),
          |e5 AS (SELECT doc_id, lw,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e4, b5),
          |e6 AS (SELECT doc_id, lw,
          |              replace(replace(s, ' ' || a || ' ' || b || ' ', ' ' || a || b || ' '),
          |                      ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ') AS s
          |       FROM e5, b6),
          |enc AS (
          |  SELECT doc_id,
          |         CAST(count(*) AS BIGINT) AS nw,
          |         CAST(sum(len(list_filter(string_split(s, ' '), x -> x <> ''))) AS BIGINT) AS nb,
          |         CAST(sum(lw) AS BIGINT) AS nc
          |  FROM e6 GROUP BY doc_id),
          |per AS (
          |  SELECT d.lang, d.doc_id,
          |         COALESCE(enc.nw, 0) AS nw, COALESCE(enc.nb, 0) AS nb,
          |         COALESCE(enc.nc, 0) AS nc
          |  FROM documents d LEFT JOIN enc ON d.doc_id = enc.doc_id)
          |SELECT lang,
          |       CAST(count(*) AS BIGINT) AS n_docs,
          |       CAST(sum(nw) AS BIGINT) AS n_words,
          |       CAST(sum(nb) AS BIGINT) AS n_bpe,
          |       CAST(sum(nc) AS BIGINT) AS n_chars,
          |       CAST(CASE WHEN sum(nw) = 0 THEN 0
          |            ELSE (10000 * sum(nb)) // sum(nw) END AS BIGINT) AS fertility_bp,
          |       CAST(CASE WHEN sum(nb) = 0 THEN 0
          |            ELSE (10000 * sum(nc)) // sum(nb) END AS BIGINT) AS chars_per_tok_bp
          |FROM per GROUP BY lang ORDER BY lang""".stripMargin),

    // distinct 3-shingles per source, pair counts via the shingle
    // self-join, exact basis-point Jaccard/containment divisions
    "q119_source_overlap" ->
      """WITH t AS (
        |  SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, array_to_string(ts[i:i+2], ' ') AS shingle
        |  FROM t, unnest(range(1, greatest(len(ts) - 3 + 2, 1))) r(i)),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
        |c AS (
        |  SELECT a.source AS src_a, b.source AS src_b, CAST(count(*) AS BIGINT) AS common
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT c.src_a, c.src_b, c.common, na.n AS n_a, nb.n AS n_b,
        |       (10000 * c.common) // (na.n + nb.n - c.common) AS jaccard_bp,
        |       (10000 * c.common) // na.n AS contain_a_bp,
        |       (10000 * c.common) // nb.n AS contain_b_bp
        |FROM c JOIN n na ON c.src_a = na.source JOIN n nb ON c.src_b = nb.source
        |ORDER BY src_a, src_b""".stripMargin,

    // q101's SimHash edge replay + 3 unrolled plurality rounds with the
    // (count DESC, label ASC) deterministic argmax
    "q120_label_propagation" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |e AS (SELECT x AS a, y AS b FROM pairs UNION ALL SELECT y, x FROM pairs),
        |l0 AS (SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS label FROM documents),
        |v1 AS (SELECT e.b AS id, l.label, count(*) AS c
        |       FROM e JOIN l0 l ON e.a = l.id GROUP BY 1, 2),
        |w1 AS (SELECT id, label FROM (
        |         SELECT id, label,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
        |         FROM v1) WHERE rn = 1),
        |l1 AS (SELECT l0.id, COALESCE(w1.label, l0.label) AS label
        |       FROM l0 LEFT JOIN w1 ON l0.id = w1.id),
        |v2 AS (SELECT e.b AS id, l.label, count(*) AS c
        |       FROM e JOIN l1 l ON e.a = l.id GROUP BY 1, 2),
        |w2 AS (SELECT id, label FROM (
        |         SELECT id, label,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
        |         FROM v2) WHERE rn = 1),
        |l2 AS (SELECT l1.id, COALESCE(w2.label, l1.label) AS label
        |       FROM l1 LEFT JOIN w2 ON l1.id = w2.id),
        |v3 AS (SELECT e.b AS id, l.label, count(*) AS c
        |       FROM e JOIN l2 l ON e.a = l.id GROUP BY 1, 2),
        |w3 AS (SELECT id, label FROM (
        |         SELECT id, label,
        |                row_number() OVER (PARTITION BY id ORDER BY c DESC, label ASC) AS rn
        |         FROM v3) WHERE rn = 1),
        |l3 AS (SELECT l2.id, COALESCE(w3.label, l2.label) AS label
        |       FROM l2 LEFT JOIN w3 ON l2.id = w3.id)
        |SELECT id AS doc_id, CAST(label AS BIGINT) AS label
        |FROM l3 ORDER BY doc_id""".stripMargin,

    // exact isqrt via the float sqrt ± 1 correction, floor quotas capped
    // at stratum size
    "q121_mixture_plan" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_in FROM documents GROUP BY lang),
        |g0 AS (SELECT lang, n_in,
        |              CAST(floor(sqrt(CAST(n_in AS DOUBLE))) AS BIGINT) AS s0 FROM c),
        |g1 AS (SELECT lang, n_in,
        |              s0 - CASE WHEN s0 * s0 > n_in THEN 1 ELSE 0 END AS s1 FROM g0),
        |w AS (SELECT lang, n_in,
        |             s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n_in THEN 1 ELSE 0 END AS weight
        |      FROM g1),
        |tot AS (SELECT sum(weight) AS wsum FROM w)
        |SELECT lang, n_in, CAST(weight AS BIGINT) AS weight,
        |       CAST(least((300 * weight) // wsum, n_in) AS BIGINT) AS quota
        |FROM w, tot ORDER BY lang""".stripMargin,

    // q121's quotas + the q47 MD5-rank selection inside each stratum
    "q122_temperature_sample" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_in FROM documents GROUP BY lang),
        |g0 AS (SELECT lang, n_in,
        |              CAST(floor(sqrt(CAST(n_in AS DOUBLE))) AS BIGINT) AS s0 FROM c),
        |g1 AS (SELECT lang, n_in,
        |              s0 - CASE WHEN s0 * s0 > n_in THEN 1 ELSE 0 END AS s1 FROM g0),
        |w AS (SELECT lang, n_in,
        |             s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n_in THEN 1 ELSE 0 END AS weight
        |      FROM g1),
        |tot AS (SELECT sum(weight) AS wsum FROM w),
        |q AS (SELECT lang, least((300 * weight) // wsum, n_in) AS quota FROM w, tot),
        |r AS (SELECT doc_id, lang,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM documents)
        |SELECT r.doc_id, r.lang
        |FROM r JOIN q ON r.lang = q.lang WHERE r.rk <= q.quota
        |ORDER BY r.doc_id""".stripMargin,

    // exact integer lift over (source, token) counts with the min-count
    // gate; HUGEINT products mirror the operator's DECIMAL(38,0)
    "q123_distinctive_terms" ->
      """WITH tk AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |cgt AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1, 2),
        |ng AS (SELECT source, sum(cnt) AS n_g FROM cgt GROUP BY source),
        |tt AS (SELECT tok, sum(cnt) AS total_t FROM cgt GROUP BY tok),
        |nn AS (SELECT sum(cnt) AS n_corpus FROM cgt),
        |sc AS (
        |  SELECT c.source, c.tok, c.cnt,
        |         CAST((10000 * c.cnt * nn.n_corpus) // (ng.n_g * tt.total_t) AS BIGINT) AS lift_bp
        |  FROM cgt c JOIN ng ON c.source = ng.source JOIN tt ON c.tok = tt.tok, nn
        |  WHERE c.cnt >= 3),
        |rk AS (SELECT source, tok, cnt, lift_bp,
        |              row_number() OVER (PARTITION BY source
        |                                 ORDER BY lift_bp DESC, tok ASC) AS rk
        |       FROM sc)
        |SELECT source, tok, cnt, lift_bp, rk FROM rk WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,

    // q77's class-0 hashed margin + the Mann–Whitney histogram identity:
    // concordant = Σ np(s)·NN(<s) via a window prefix (the operator uses
    // the recursive block form; sums are order-free so they agree exactly)
    "q124_classifier_auc" ->
      (aucScoreCte +
        """h AS (SELECT score, CAST(sum(y) AS BIGINT) AS np,
          |              CAST(sum(1 - y) AS BIGINT) AS nn
          |       FROM sc GROUP BY score),
          |p AS (SELECT score, np, nn,
          |             COALESCE(sum(nn) OVER (ORDER BY score
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nnb
          |      FROM h)
          |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          |       CAST(sum(nn) AS BIGINT) AS n_neg,
          |       CAST(sum(np * nnb) AS BIGINT) AS n_concordant,
          |       CAST(sum(np * nn) AS BIGINT) AS n_tie_pairs,
          |       CAST((10000 * (2 * sum(np * nnb) + sum(np * nn)))
          |            // (2 * sum(np) * sum(nn)) AS BIGINT) AS auc_bp
          |FROM p""".stripMargin),

    // same score/label relation; thresholds at distinct scores DESC,
    // precision terms floored at 10^7 before the sum (all non-negative)
    "q180_classifier_ap" ->
      (aucScoreCte +
        """h AS (SELECT score, CAST(sum(y) AS BIGINT) AS np,
          |              CAST(count(*) AS BIGINT) AS nt
          |       FROM sc GROUP BY score),
          |p AS (SELECT score, np, nt,
          |             CAST(sum(np) OVER (ORDER BY score DESC
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cump,
          |             CAST(sum(nt) OVER (ORDER BY score DESC
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumt
          |      FROM h)
          |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          |       CAST(sum(nt) AS BIGINT) AS n,
          |       CAST(sum(np * ((10000000 * cump) // cumt)) // sum(np) AS BIGINT) AS ap_mbp,
          |       CAST((10000 * sum(np)) // sum(nt) AS BIGINT) AS p_at_all_bp
          |FROM p""".stripMargin),

    // same score/label relation, ceil-width integer bucketing (all
    // operands non-negative, so DuckDB floor-// equals Spark trunc-div)
    "q125_score_calibration" ->
      (aucScoreCte +
        """bd AS (SELECT min(score) AS minS, max(score) AS maxS FROM sc),
          |k AS (SELECT sc.score, sc.y, bd.minS,
          |             (bd.maxS - bd.minS + 1 + 9) // 10 AS width
          |      FROM sc, bd),
          |g AS (SELECT (score - minS) // width AS bucket,
          |             minS + ((score - minS) // width) * width AS score_lo,
          |             count(*) AS n, sum(y) AS n_pos
          |      FROM k GROUP BY 1, 2)
          |SELECT CAST(bucket AS BIGINT) AS bucket,
          |       CAST(score_lo AS BIGINT) AS score_lo,
          |       CAST(n AS BIGINT) AS n,
          |       CAST(n_pos AS BIGINT) AS n_pos,
          |       CAST((10000 * n_pos) // n AS BIGINT) AS pos_rate_bp
          |FROM g ORDER BY bucket""".stripMargin),

    // 4 unrolled synchronous peels at k=3, then survivor degrees
    "q131_kcore" ->
      (simhashEdgeCte +
        "s0 AS (SELECT doc_id AS id FROM documents),\n" +
        (1 to 4).map(kcoreRound(_, 3)).mkString("\n") + "\n" +
        """fd AS (
          |  SELECT e.b AS id, CAST(count(*) AS BIGINT) AS degree
          |  FROM e JOIN s4 x ON e.a = x.id JOIN s4 y ON e.b = y.id
          |  GROUP BY e.b)
          |SELECT s4.id AS doc_id, fd.degree
          |FROM s4 JOIN fd ON s4.id = fd.id ORDER BY doc_id""".stripMargin),

    // restart mass on doc_id < 25, 2 unrolled exact-integer rounds
    "q132_ppr" ->
      (simhashEdgeCte +
        """n AS (SELECT doc_id AS id FROM documents),
          |sb AS (SELECT id, CASE WHEN id < 25 THEN 1 ELSE 0 END AS isrc FROM n),
          |od AS (SELECT a AS id, count(*) AS d FROM e GROUP BY a),
          |r0 AS (SELECT id, CAST(isrc * 1000000000000 AS BIGINT) AS r FROM sb),
          |""".stripMargin +
        (1 to 2).map(pprRound).mkString("\n").stripSuffix(",") + "\n" +
        """SELECT id AS doc_id, CAST(r AS BIGINT) AS rank
          |FROM r2 ORDER BY doc_id""".stripMargin),

    // 4 unrolled BFS relaxations from doc 0; −1 beyond the horizon
    "q133_bfs_hops" ->
      (simhashEdgeCte +
        """n AS (SELECT doc_id AS id FROM documents),
          |b0 AS (SELECT id, CASE WHEN id = 0 THEN 0 ELSE -1 END AS dist FROM n),
          |""".stripMargin +
        (1 to 4).map(bfsRound).mkString("\n").stripSuffix(",") + "\n" +
        """SELECT id AS doc_id, CAST(dist AS BIGINT) AS dist
          |FROM b4 ORDER BY doc_id""".stripMargin),

    // exact scale + fixed-order rounding replayed per dimension
    "q128_embed_quantize" ->
      (quantCte +
        """x AS (
          |  SELECT sv.vec_id, CAST(j - 1 AS BIGINT) AS dim,
          |         CASE WHEN sv.scale = 0 THEN CAST(0 AS BIGINT)
          |              ELSE CAST(floor(sv.emb[j] / sv.scale * 127 + 0.5) AS BIGINT) END AS code,
          |         sv.scale
          |  FROM sv, unnest(range(1, len(sv.emb) + 1)) r(j))
          |SELECT vec_id, dim, code, scale FROM x ORDER BY vec_id, dim""".stripMargin),

    // integer-numerator cosine ranking over the codes
    "q129_quantized_ann" ->
      ((quantCte + quantRankCte).stripSuffix(",\n") + "\n" +
        """SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, round(qc2, 4) AS qsim
          |FROM irk WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin),

    // q22's float ranking ∩ the int8 ranking, per query in basis points
    "q130_quantization_recall" ->
      (quantCte + quantRankCte +
        """fq AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
          |fsc AS (
          |  SELECT fq.q_id, c.vec_id AS n_id,
          |         list_cosine_similarity(fq.q_emb, c.emb) AS sim
          |  FROM fq JOIN e c ON c.vec_id <> fq.q_id),
          |frk AS (
          |  SELECT q_id, n_id,
          |         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank
          |  FROM fsc),
          |fr AS (SELECT q_id, n_id FROM frk WHERE rank <= 10),
          |ir AS (SELECT q_id, n_id FROM irk WHERE rank <= 10)
          |SELECT fr.q_id, CAST(count(*) AS BIGINT) AS n_overlap,
          |       CAST((10000 * count(*)) // 10 AS BIGINT) AS recall_bp
          |FROM fr JOIN ir ON fr.q_id = ir.q_id AND fr.n_id = ir.n_id
          |GROUP BY fr.q_id ORDER BY fr.q_id""".stripMargin),

    // q20's canonical-text dedup + q121's isqrt quotas over survivors +
    // q76's shard/pos assignment, chained
    "q127_curation_mix" ->
      """WITH dedup AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           min(doc_id) OVER (PARTITION BY regexp_replace(trim(text), ' +', ' ', 'g')) AS rep
        |    FROM documents)
        |  WHERE doc_id = rep),
        |surv AS (SELECT d.doc_id, d.lang FROM documents d JOIN dedup USING (doc_id)),
        |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_in FROM surv GROUP BY lang),
        |g0 AS (SELECT lang, n_in,
        |              CAST(floor(sqrt(CAST(n_in AS DOUBLE))) AS BIGINT) AS s0 FROM c),
        |g1 AS (SELECT lang, n_in,
        |              s0 - CASE WHEN s0 * s0 > n_in THEN 1 ELSE 0 END AS s1 FROM g0),
        |w AS (SELECT lang, n_in,
        |             s1 + CASE WHEN (s1 + 1) * (s1 + 1) <= n_in THEN 1 ELSE 0 END AS weight
        |      FROM g1),
        |tot AS (SELECT sum(weight) AS wsum FROM w),
        |q AS (SELECT lang, least((250 * weight) // wsum, n_in) AS quota FROM w, tot),
        |r AS (SELECT doc_id, lang,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |      FROM surv),
        |sel AS (SELECT r.doc_id, r.lang FROM r JOIN q ON r.lang = q.lang
        |        WHERE r.rk <= q.quota),
        |h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hx FROM sel),
        |sh AS (SELECT doc_id, lang, hx,
        |              CAST(list_sum(list_transform(range(0, 8), i ->
        |                CAST(instr('0123456789abcdef',
        |                           substr(hx, CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |                  << CAST(4 * (7 - i) AS INT))) AS BIGINT) % 8 AS shard
        |       FROM h)
        |SELECT doc_id, lang, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT)
        |         AS pos
        |FROM sh ORDER BY doc_id""".stripMargin,

    "q22_ann_bruteforce" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, c.vec_id AS n_id,
        |         list_cosine_similarity(q.q_emb, c.emb) AS sim
        |  FROM q JOIN e c ON c.vec_id <> q.q_id)
        |SELECT q_id, n_id,
        |       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank,
        |       round(sim, 4) AS sim
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "q24_embed_neardup" ->
      """WITH base AS (
        |  SELECT vec_id AS vid, embedding AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |         [CAST(CAST(embedding[i] AS DOUBLE) +
        |            (CASE WHEN (i-1)%2 = 0 THEN 0.003 ELSE -0.003 END) AS FLOAT)
        |          FOR i IN range(1, 65)]
        |  FROM embeddings),
        |d AS (SELECT vid, [CAST(x AS DOUBLE) FOR x IN emb] AS emb FROM base)
        |SELECT a.vid AS x_id, b.vid AS y_id,
        |       round(list_cosine_similarity(a.emb, b.emb), 4) AS sim
        |FROM d a JOIN d b ON a.vid < b.vid
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.99
        |ORDER BY 1, 2""".stripMargin,

    "q25_text_stats" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(toks) AS n_tokens,
        |  len(list_distinct(toks)) AS n_uniq,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_subtokens,
        |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks), 4) AS avg_tok_len,
        |  round(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE) / length(text), 4) AS punct_ratio,
        |  round(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text), 4) AS digit_ratio,
        |  round(CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(toks), 4) AS stop_ratio,
        |  round(CAST(4 * least(len(toks), 100) * len(toks)
        |             + 300 * len(list_distinct(toks))
        |             + 300 * len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE)
        |        / CAST(1000 * len(toks) AS DOUBLE), 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,

    "q26_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','zu','ist','ein','nicht'))) AS DOUBLE) / len(toks) AS r_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(toks) AS r_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','un','que'))) AS DOUBLE) / len(toks) AS r_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','en','est','un','que'))) AS DOUBLE) / len(toks) AS r_fr
        |  FROM t)
        |SELECT doc_id,
        |  CASE WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
        |       WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
        |       WHEN r_es >= r_fr THEN 'es'
        |       ELSE 'fr' END AS lang_pred,
        |  round(greatest(r_de, r_en, r_es, r_fr), 4) AS lang_score
        |FROM r ORDER BY doc_id""".stripMargin,

    "q35_sig_index_persist" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS slen
        |  FROM documents),
        |bounds AS (SELECT min(slen) AS mn, max(slen) AS mx FROM tok),
        |grp(lo, hi) AS (
        |  SELECT mn, CAST(floor(mn / 0.95 + 0.0001) AS BIGINT) FROM bounds
        |  UNION ALL
        |  SELECT hi + 1, CAST(floor((hi + 1) / 0.95 + 0.0001) AS BIGINT)
        |  FROM grp, bounds WHERE hi + 1 <= mx)
        |SELECT t.doc_id,
        |       CAST(floor((1 - 0.8) / (1 + 0.8) * (g.hi + floor(g.hi / 0.8 + 0.0001)) + 0.0001) + 1
        |            AS BIGINT) AS n_sigs
        |FROM tok t JOIN grp g ON t.slen BETWEEN g.lo AND g.hi
        |ORDER BY t.doc_id""".stripMargin,

    // decodeStub replay: h ← (31·h + byte) mod 2⁶⁴ (Java long wraparound,
    // done in HUGEINT), slot i%16 accumulates (signed(h) % 1000)/1000 in
    // FLOAT32 — bit-identical to the Scala stub on ASCII payloads, so the
    // final double left-fold and round(·,3) agree exactly.
    "q37_multimodal_decode" ->
      """WITH RECURSIVE m AS (
        |  SELECT doc_id AS media_id,
        |         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
        |         substr(text, 1,
        |           CAST(greatest(1, (CAST(octet_length(encode(text)) AS BIGINT) * 4096)
        |                            // greatest(CAST(n_chars AS BIGINT), 1)) AS INT)) AS t
        |  FROM documents),
        |step(media_id, kind, t, i, h, fs) AS (
        |  SELECT media_id, kind, t, 0,
        |         CAST(1125899906842597 AS HUGEINT),
        |         [CAST(0 AS FLOAT) FOR x IN range(16)]
        |  FROM m
        |  UNION ALL
        |  SELECT media_id, kind, t, i + 1, hn,
        |         list_transform(range(16), x ->
        |           CASE WHEN x = (i % 16)
        |                THEN CAST(fs[x + 1] + CAST(CAST(CASE WHEN hn >= CAST(9223372036854775808 AS HUGEINT)
        |                                                     THEN hn - CAST(18446744073709551616 AS HUGEINT)
        |                                                     ELSE hn END % 1000 AS BIGINT) AS FLOAT)
        |                               / CAST(1000.0 AS FLOAT) AS FLOAT)
        |                ELSE fs[x + 1] END)
        |  FROM (
        |    SELECT media_id, kind, t, i, fs,
        |           (31 * h + unicode(substr(t, i + 1, 1)))
        |             % CAST(18446744073709551616 AS HUGEINT) AS hn
        |    FROM step WHERE i < length(t)) s)
        |SELECT media_id, kind, CAST(16 AS BIGINT) AS feat_dim,
        |       round(CAST(fs[1] AS DOUBLE) + fs[2] + fs[3] + fs[4] + fs[5] + fs[6]
        |             + fs[7] + fs[8] + fs[9] + fs[10] + fs[11] + fs[12] + fs[13]
        |             + fs[14] + fs[15] + fs[16], 3) AS feat_l1
        |FROM step WHERE i = length(t)
        |ORDER BY media_id""".stripMargin,

    "q36_multimodal_frames" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |         (['image', 'audio', 'video'])[(doc_id % 3) + 1] AS kind,
        |         octet_length(encode(text)) AS n FROM documents)
        |SELECT media_id, kind, r.i AS frame_idx,
        |       greatest(0, least(200, n - r.i * 200)) AS frame_bytes
        |FROM m, range(0, 8) r(i)
        |WHERE r.i < least(8, 1 + n // 200)
        |ORDER BY media_id, frame_idx""".stripMargin,

    "q27_fingerprint_shingles" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         [w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)] AS sh
        |  FROM t)
        |SELECT doc_id, len(sh) AS n_shingles,
        |       len(list_distinct(sh)) AS n_distinct_shingles
        |FROM s ORDER BY doc_id""".stripMargin,

    // the composed pipeline: dedup window + quality formula + language
    // profile + hex→uniform split, each fragment identical to its
    // single-operator oracle.
    "q48_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |dedup AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |           min(doc_id) OVER (PARTITION BY regexp_replace(trim(text), ' +', ' ', 'g')) AS rep
        |    FROM documents)
        |  WHERE doc_id = rep),
        |qual AS (
        |  SELECT doc_id FROM t
        |  WHERE round(CAST(4 * least(len(toks), 100) * len(toks)
        |                   + 300 * len(list_distinct(toks))
        |                   + 300 * len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE)
        |              / CAST(1000 * len(toks) AS DOUBLE), 4) >= 0.38),
        |lang AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','zu','ist','ein','nicht'))) AS DOUBLE) / len(toks) AS r_de,
        |      CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(toks) AS r_en,
        |      CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','un','que'))) AS DOUBLE) / len(toks) AS r_es,
        |      CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','en','est','un','que'))) AS DOUBLE) / len(toks) AS r_fr
        |    FROM t)
        |  WHERE NOT (r_de >= r_en AND r_de >= r_es AND r_de >= r_fr)
        |    AND r_en >= r_es AND r_en >= r_fr),
        |kept AS (
        |  SELECT d.doc_id FROM dedup d
        |  JOIN qual USING (doc_id) JOIN lang USING (doc_id)),
        |u AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |           / 4294967296.0 AS u
        |  FROM kept)
        |SELECT doc_id,
        |       CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
        |            WHEN u < CAST(0.9 AS DOUBLE) THEN 'val'
        |            ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin,

    // hex→uniform replay: first 8 md5 hex chars as a 32-bit integer / 2³²,
    // then the cumulative-fraction CASE (bounds are decimal-exact doubles
    // in both engines).
    "q46_hash_split" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |           / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id,
        |       CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
        |            WHEN u < CAST(0.9 AS DOUBLE) THEN 'val'
        |            ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin,

    // languageId replay (q26's profile SQL) + the MD5-order per-stratum cap.
    "q47_stratified_cap" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','zu','ist','ein','nicht'))) AS DOUBLE) / len(toks) AS r_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(toks) AS r_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','un','que'))) AS DOUBLE) / len(toks) AS r_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','en','est','un','que'))) AS DOUBLE) / len(toks) AS r_fr
        |  FROM t),
        |lp AS (
        |  SELECT doc_id,
        |    CASE WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
        |         WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
        |         WHEN r_es >= r_fr THEN 'es'
        |         ELSE 'fr' END AS lang_pred
        |  FROM r)
        |SELECT doc_id, lang_pred FROM lp
        |QUALIFY row_number() OVER (
        |  PARTITION BY lang_pred
        |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 120
        |ORDER BY doc_id""".stripMargin,

    // java.util.Random LCG replay (multiplier 0x5DEECE66D, addend 0xB, 48-bit
    // state; nextBoolean = top bit of next(1)) → the exact Rademacher plane
    // signs LshSignature precomputes; then signature, bucket join, re-rank.
    "q23_ann_lsh" ->
      """WITH RECURSIVE
        |seeds AS (
        |  SELECT t.range AS t, j.range AS j,
        |         xor(CAST(t.range*97 + j.range AS BIGINT), 25214903917) & 281474976710655 AS s
        |  FROM range(0,16) t, range(0,8) j),
        |draws(t, j, k, s, sign) AS (
        |  SELECT t, j, -1, s, 0 FROM seeds
        |  UNION ALL
        |  SELECT t, j, k+1, ns, CASE WHEN (ns >> 47) & 1 = 1 THEN 1 ELSE -1 END
        |  FROM (SELECT t, j, k,
        |               CAST((CAST(s AS HUGEINT)*25214903917 + 11) % 281474976710656 AS BIGINT) AS ns
        |        FROM draws WHERE k < 63) d),
        |planes AS (
        |  SELECT t, j, list(sign ORDER BY k) AS sg
        |  FROM draws WHERE k >= 0 GROUP BY t, j),
        |emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |dots AS (
        |  SELECT emb.vec_id, planes.t, planes.j,
        |         list_sum(list_transform(range(1, 65), k -> e[k] * sg[k])) AS d
        |  FROM emb, planes),
        |sigs AS (
        |  SELECT vec_id, t,
        |         CAST(sum(CASE WHEN d > 0 THEN (1 << j) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id, t),
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
        |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
        |scored AS (
        |  SELECT cand.q_id, cand.n_id, list_cosine_similarity(qe.e, ce.e) AS sim
        |  FROM cand JOIN emb qe ON qe.vec_id = cand.q_id
        |            JOIN emb ce ON ce.vec_id = cand.n_id)
        |SELECT q_id, n_id,
        |       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank,
        |       round(sim, 4) AS sim
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    // full IVF replay: MD5-ordered centroid sample, best-cosine cell
    // assignment (tie → smaller cell), nProbe=8 probe, top-10 re-rank.
    "q44_ann_ivf" ->
      """WITH emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb
        |  QUALIFY cell <= 64),
        |asg AS (
        |  SELECT n_id, n_e, cell FROM (
        |    SELECT emb.vec_id AS n_id, emb.e AS n_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |probe AS (
        |  SELECT q_id, q_e, cell FROM (
        |    SELECT emb.vec_id AS q_id, emb.e AS q_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent WHERE emb.vec_id < 10) WHERE rn <= 8),
        |scored AS (
        |  SELECT probe.q_id, asg.n_id, list_cosine_similarity(probe.q_e, asg.n_e) AS sim
        |  FROM probe JOIN asg USING (cell)
        |  WHERE asg.n_id <> probe.q_id)
        |SELECT q_id, n_id,
        |       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank,
        |       round(sim, 4) AS sim
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "q55_semantic_dedup" ->
      """WITH emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb
        |  QUALIFY cell <= 64),
        |asg AS (
        |  SELECT n_id, n_e, cell FROM (
        |    SELECT emb.vec_id AS n_id, emb.e AS n_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |m AS (
        |  SELECT x.n_id AS vec_id, min(y.n_id) AS dup_of
        |  FROM asg x JOIN asg y
        |    ON x.cell = y.cell AND y.n_id < x.n_id
        |   AND list_cosine_similarity(x.n_e, y.n_e) >= 0.985
        |  GROUP BY x.n_id)
        |SELECT e.vec_id, coalesce(m.dup_of, -1) AS dup_of
        |FROM emb e LEFT JOIN m ON e.vec_id = m.vec_id
        |ORDER BY e.vec_id""".stripMargin,

    "q135_semantic_decon" ->
      """WITH emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |ev0 AS (
        |  SELECT vec_id + 10000 AS eid,
        |         [CAST(CAST(embedding[i] AS DOUBLE) +
        |            (CASE WHEN (i-1)%2 = 0 THEN 0.003 ELSE -0.003 END) AS FLOAT)
        |          FOR i IN range(1, 65)] AS emb
        |  FROM embeddings WHERE vec_id < 25),
        |ev AS (SELECT eid, [CAST(x AS DOUBLE) FOR x IN emb] AS e FROM ev0),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb
        |  QUALIFY cell <= 64),
        |asg AS (
        |  SELECT vec_id, e, cell FROM (
        |    SELECT emb.vec_id, emb.e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |easg AS (
        |  SELECT eid, e, cell FROM (
        |    SELECT ev.eid, ev.e, cent.cell,
        |           row_number() OVER (PARTITION BY ev.eid
        |                              ORDER BY list_cosine_similarity(ev.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM ev, cent) WHERE rn = 1)
        |SELECT a.vec_id,
        |       count(*) AS n_eval_hits,
        |       min(x.eid) AS eval_id
        |FROM asg a JOIN easg x USING (cell)
        |WHERE list_cosine_similarity(a.e, x.e) >= 0.99
        |GROUP BY a.vec_id
        |ORDER BY a.vec_id""".stripMargin,

    "q136_kanon_release" ->
      """WITH c AS (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang, source)
        |SELECT d.doc_id,
        |       CASE WHEN c.n >= 5 THEN d.lang END AS lang,
        |       CASE WHEN c.n >= 5 THEN d.source END AS source,
        |       c.n AS qi_n
        |FROM documents d JOIN c ON d.lang = c.lang AND d.source = c.source
        |ORDER BY d.doc_id""".stripMargin,

    "q139_crosslm_quality" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |rp AS (
        |  SELECT w[i] AS w, w[i + 1] AS next
        |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
        |        FROM documents WHERE lang = 'en') rw,
        |       unnest(range(1, greatest(len(w), 1))) r(i)),
        |refbi AS (
        |  SELECT w, next, CAST(count(*) AS BIGINT) AS cnt
        |  FROM rp GROUP BY w, next),
        |bi AS (SELECT w, next, cnt FROM refbi WHERE cnt >= 5),
        |ctx AS (SELECT w, CAST(sum(cnt) AS BIGINT) AS ctx FROM refbi GROUP BY w),
        |docbi AS (
        |  SELECT doc_id, w[i] AS w, w[i + 1] AS next, CAST(count(*) AS BIGINT) AS k
        |  FROM t, unnest(range(1, greatest(len(w), 1))) r(i)
        |  GROUP BY doc_id, w[i], w[i + 1]),
        |sc AS (
        |  SELECT d.doc_id,
        |         CAST(sum(d.k) AS BIGINT) AS n_bigrams,
        |         CAST(sum(CASE WHEN bi.cnt IS NULL OR ctx.ctx IS NULL
        |                       THEN d.k ELSE 0 END) AS BIGINT) AS n_oov,
        |         CAST(sum(CASE WHEN bi.cnt IS NULL OR ctx.ctx IS NULL THEN 0
        |                       ELSE d.k * ((10000 * bi.cnt) // ctx.ctx) END) AS BIGINT) AS s
        |  FROM docbi d
        |  LEFT JOIN ctx ON d.w = ctx.w
        |  LEFT JOIN bi ON d.w = bi.w AND d.next = bi.next
        |  GROUP BY d.doc_id),
        |d AS (
        |  SELECT d.doc_id,
        |         COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |         COALESCE(sc.n_oov, 0) AS n_oov,
        |         CASE WHEN COALESCE(sc.n_bigrams, 0) = 0 THEN 0
        |              ELSE sc.s // sc.n_bigrams END AS score_bp
        |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |r AS (SELECT score_bp,
        |             row_number() OVER (ORDER BY score_bp DESC, doc_id) AS rk
        |      FROM d),
        |th AS (
        |  SELECT max(CASE WHEN rk = (n + 2) // 3 THEN score_bp END) AS t1,
        |         max(CASE WHEN rk = (2 * n + 2) // 3 THEN score_bp END) AS t2
        |  FROM r, n)
        |SELECT d.doc_id, d.n_bigrams, d.n_oov, d.score_bp,
        |       CASE WHEN d.score_bp >= th.t1 THEN 'head'
        |            WHEN d.score_bp >= th.t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM d, th ORDER BY d.doc_id""".stripMargin,

    "q140_hard_negatives" ->
      """WITH corpus AS (
        |  SELECT vec_id AS n_id, embedding AS emb FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |         [CAST(CAST(embedding[i] AS DOUBLE) +
        |            (CASE WHEN (i-1)%2 = 0 THEN 0.003 ELSE -0.003 END) AS FLOAT)
        |          FOR i IN range(1, 65)]
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT n_id, [CAST(x AS DOUBLE) FOR x IN emb] AS e FROM corpus),
        |q AS (SELECT vec_id AS q_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
        |      FROM embeddings WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.q_id, c.n_id, list_cosine_similarity(q.e, c.e) AS sim
        |  FROM q, c
        |  WHERE q.q_id <> c.n_id AND list_cosine_similarity(q.e, c.e) < 0.99)
        |SELECT q_id, n_id,
        |       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank,
        |       round(sim, 4) AS sim
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "q141_epoch_orders" ->
      """WITH h AS (
        |  SELECT doc_id, r.epoch AS epoch,
        |         md5(CAST(doc_id AS VARCHAR) || ':' || CAST(r.epoch AS VARCHAR)) AS hx
        |  FROM documents, range(1, 3) r(epoch)),
        |s AS (
        |  SELECT doc_id, epoch, hx,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(hx, CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (7 - i) AS INT))) AS BIGINT) % 16 AS shard
        |  FROM h)
        |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch, shard,
        |       CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY hx, doc_id)
        |            AS BIGINT) AS pos
        |FROM s ORDER BY epoch, doc_id""".stripMargin,

    "q145_embed_pool" ->
      """WITH x AS (
        |  SELECT vec_id // 4 AS gid, CAST(j - 1 AS BIGINT) AS dim,
        |         CAST(floor(CAST(embedding[j] AS DOUBLE) * 1048576 + 0.5) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) r(j))
        |SELECT gid, dim, CAST(count(*) AS BIGINT) AS n_chunks,
        |       CAST(sum(q) // count(*) AS BIGINT) AS pooled_q
        |FROM x GROUP BY gid, dim ORDER BY gid, dim""".stripMargin,

    "q146_jl_recall" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
        |           FROM embeddings),
        |q AS (SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < 10),
        |exact AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q.q_id, c.vec_id AS n_id,
        |           row_number() OVER (PARTITION BY q.q_id
        |             ORDER BY list_cosine_similarity(q.q_emb, c.emb) DESC, c.vec_id) AS rank
        |    FROM q JOIN e c ON c.vec_id <> q.q_id) WHERE rank <= 10),
        |qt AS (SELECT vec_id,
        |              [CAST(floor(x * 16384 + 0.5) AS BIGINT) FOR x IN emb] AS qv
        |       FROM e),
        |sgn AS (
        |  SELECT i.i, j.j,
        |         CASE WHEN (instr('0123456789abcdef',
        |                          substr(md5(i.i || ':' || j.j), 1, 1)) - 1) % 2 = 1
        |              THEN 1 ELSE -1 END AS s
        |  FROM range(0, 64) i(i), range(0, 16) j(j)),
        |proj AS (
        |  SELECT vec_id, j, CAST(sum(qv[i + 1] * s) AS BIGINT) AS p
        |  FROM qt, sgn GROUP BY vec_id, j),
        |pv AS (SELECT vec_id, list(p ORDER BY j) AS pv FROM proj GROUP BY vec_id),
        |psc AS (
        |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
        |         CAST(list_sum(list_transform(range(1, 17), d -> a.pv[d] * b.pv[d])) AS BIGINT) AS dt,
        |         CAST(list_sum(list_transform(range(1, 17), d -> a.pv[d] * a.pv[d])) AS BIGINT) AS na,
        |         CAST(list_sum(list_transform(range(1, 17), d -> b.pv[d] * b.pv[d])) AS BIGINT) AS nb
        |  FROM pv a JOIN pv b ON a.vec_id < 10 AND b.vec_id <> a.vec_id),
        |approx AS (
        |  SELECT q_id, n_id FROM (
        |    SELECT q_id, n_id,
        |           row_number() OVER (PARTITION BY q_id ORDER BY
        |             CASE WHEN na = 0 OR nb = 0 THEN 0.0
        |                  ELSE CAST(dt AS DOUBLE) /
        |                       (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) END DESC,
        |             n_id) AS rank
        |    FROM psc) WHERE rank <= 10)
        |SELECT e.q_id, CAST(count(*) AS BIGINT) AS k,
        |       CAST(count(a.n_id) AS BIGINT) AS n_hit,
        |       CAST((10000 * count(a.n_id)) // count(*) AS BIGINT) AS recall_bp
        |FROM exact e LEFT JOIN approx a ON e.q_id = a.q_id AND e.n_id = a.n_id
        |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin,

    "q148_rater_kappa" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','zu','ist','ein','nicht'))) AS DOUBLE) / len(toks) AS r_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(toks) AS r_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','un','que'))) AS DOUBLE) / len(toks) AS r_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','en','est','un','que'))) AS DOUBLE) / len(toks) AS r_fr
        |  FROM t),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
        |         WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
        |         WHEN r_es >= r_fr THEN 'es'
        |         ELSE 'fr' END AS lang_pred
        |  FROM r),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
        |  FROM p),
        |ma AS (SELECT lang AS cat, count(*) AS na FROM p GROUP BY 1),
        |mb AS (SELECT lang_pred AS cat, count(*) AS nb FROM p GROUP BY 1),
        |pe AS (SELECT COALESCE(sum(na * nb), 0) AS pp FROM ma JOIN mb USING (cat)),
        |bp AS (
        |  SELECT n, n_agree,
        |         CAST((10000 * n_agree) // n AS BIGINT) AS po_bp,
        |         CAST((10000 * pp) // (n * n) AS BIGINT) AS pe_bp
        |  FROM tot, pe)
        |SELECT n, n_agree, po_bp, pe_bp,
        |       CASE WHEN pe_bp = 10000 THEN NULL
        |            WHEN po_bp >= pe_bp
        |              THEN CAST(((po_bp - pe_bp) * 10000) // (10000 - pe_bp) AS BIGINT)
        |            ELSE -CAST(((pe_bp - po_bp) * 10000) // (10000 - pe_bp) AS BIGINT)
        |       END AS kappa_bp
        |FROM bp""".stripMargin,

    "q150_ldiversity" ->
      """WITH d AS (
        |  SELECT doc_id, lang, CAST(n_chars // 200 AS BIGINT) AS szb, source
        |  FROM documents),
        |c AS (
        |  SELECT lang, szb, CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(DISTINCT source) AS BIGINT) AS n_sens
        |  FROM d GROUP BY 1, 2)
        |SELECT d.doc_id,
        |       CASE WHEN c.n >= 13 AND c.n_sens >= 13 THEN d.lang END AS lang,
        |       CASE WHEN c.n >= 13 AND c.n_sens >= 13 THEN d.szb END AS szb,
        |       d.source,
        |       c.n AS qi_n, c.n_sens AS qi_nsens
        |FROM d JOIN c ON d.lang = c.lang AND d.szb = c.szb
        |ORDER BY doc_id""".stripMargin,

    "q151_decon_verdict" ->
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+4], ' ')
        |                               FOR i IN range(1, len(w) - 3)])) AS gram
        |  FROM w),
        |evg AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 50 = 0),
        |ex AS (
        |  SELECT c.doc_id, CAST(count(DISTINCT c.gram) AS BIGINT) AS n_hit_grams
        |  FROM g c JOIN evg ON c.gram = evg.gram
        |  WHERE c.doc_id % 50 <> 0 GROUP BY c.doc_id),
        |tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |evt AS (SELECT doc_id AS eval_id, toks AS e_toks FROM tok WHERE doc_id % 50 = 0),
        |cot AS (SELECT doc_id, toks FROM tok WHERE doc_id % 50 <> 0),
        |fz AS (
        |  SELECT doc_id, CAST(count(DISTINCT eval_id) AS BIGINT) AS n_fuzzy_evals
        |  FROM (SELECT cot.doc_id, evt.eval_id,
        |               len(list_intersect(cot.toks, evt.e_toks)) AS inter,
        |               len(cot.toks) + len(evt.e_toks)
        |                 - len(list_intersect(cot.toks, evt.e_toks)) AS uni
        |        FROM cot, evt)
        |  WHERE inter >= uni * 0.8 GROUP BY doc_id),
        |emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
        |        FROM embeddings),
        |evc AS (SELECT vec_id AS e_vid, e AS e_e FROM emb WHERE (vec_id // 4) % 50 = 0),
        |coc AS (SELECT (vec_id // 4) * 100000 + vec_id AS cid, e
        |        FROM emb WHERE (vec_id // 4) % 50 <> 0),
        |pl0 AS (
        |  SELECT ((vec_id // 4) + 10000) * 100000 + vec_id AS cid,
        |         [CAST(CAST(embedding[i] AS DOUBLE) +
        |            (CASE WHEN (i-1)%2 = 0 THEN 0.003 ELSE -0.003 END) AS FLOAT)
        |          FOR i IN range(1, 65)] AS emb
        |  FROM embeddings WHERE (vec_id // 4) % 50 = 0),
        |pl AS (SELECT cid, [CAST(x AS DOUBLE) FOR x IN emb] AS e FROM pl0),
        |allc AS (SELECT cid, e FROM coc UNION ALL SELECT cid, e FROM pl),
        |smc AS (SELECT a.cid FROM allc a JOIN evc v
        |          ON list_cosine_similarity(a.e, v.e_e) >= 0.99
        |        GROUP BY a.cid),
        |sm AS (SELECT CAST(cid // 100000 AS BIGINT) AS doc_id,
        |              CAST(count(*) AS BIGINT) AS n_sem_chunks
        |       FROM smc GROUP BY 1),
        |ids AS (SELECT doc_id FROM ex UNION SELECT doc_id FROM fz
        |        UNION SELECT doc_id FROM sm)
        |SELECT i.doc_id,
        |       COALESCE(ex.n_hit_grams, 0) AS n_hit_grams,
        |       COALESCE(fz.n_fuzzy_evals, 0) AS n_fuzzy_evals,
        |       COALESCE(sm.n_sem_chunks, 0) AS n_sem_chunks,
        |       CAST(CASE WHEN COALESCE(ex.n_hit_grams, 0) > 0 THEN 1 ELSE 0 END
        |            + CASE WHEN COALESCE(fz.n_fuzzy_evals, 0) > 0 THEN 1 ELSE 0 END
        |            + CASE WHEN COALESCE(sm.n_sem_chunks, 0) > 0 THEN 1 ELSE 0 END
        |            AS BIGINT) AS n_tiers
        |FROM ids i
        |LEFT JOIN ex ON i.doc_id = ex.doc_id
        |LEFT JOIN fz ON i.doc_id = fz.doc_id
        |LEFT JOIN sm ON i.doc_id = sm.doc_id
        |ORDER BY i.doc_id""".stripMargin,

    "q154_pq_adc" ->
      """WITH q AS (
        |  SELECT vec_id AS vid,
        |         [CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)
        |          FOR x IN embedding] AS qe
        |  FROM embeddings),
        |sv AS (
        |  SELECT vid, s.s AS sub, qe[s.s * 16 + 1 : s.s * 16 + 16] AS sq
        |  FROM q, range(0, 4) s(s)),
        |b0 AS (
        |  SELECT sub, cell, sq AS c FROM (
        |    SELECT sub, vid, sq,
        |           row_number() OVER (PARTITION BY sub
        |             ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS cell
        |    FROM sv) WHERE cell <= 16),
        |a0 AS (
        |  SELECT vid, sub, sq, cell FROM (
        |    SELECT sv.vid, sv.sub, sv.sq, b.cell,
        |           row_number() OVER (PARTITION BY sv.vid, sv.sub ORDER BY
        |             list_sum(list_transform(range(1, 17),
        |               i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))), b.cell) AS rn
        |    FROM sv JOIN b0 b USING (sub)) WHERE rn = 1),
        |b1 AS (
        |  SELECT sub, cell,
        |         list(CAST(floor(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY dim) AS c
        |  FROM (SELECT sub, cell, i AS dim, CAST(sum(sq[i]) AS BIGINT) AS sv,
        |               count(*) AS cnt
        |        FROM a0, range(1, 17) t(i) GROUP BY sub, cell, i)
        |  GROUP BY sub, cell),
        |a1 AS (
        |  SELECT vid, sub, sq, cell FROM (
        |    SELECT sv.vid, sv.sub, sv.sq, b.cell,
        |           row_number() OVER (PARTITION BY sv.vid, sv.sub ORDER BY
        |             list_sum(list_transform(range(1, 17),
        |               i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))), b.cell) AS rn
        |    FROM sv JOIN b1 b USING (sub)) WHERE rn = 1),
        |b2 AS (
        |  SELECT sub, cell,
        |         list(CAST(floor(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY dim) AS c
        |  FROM (SELECT sub, cell, i AS dim, CAST(sum(sq[i]) AS BIGINT) AS sv,
        |               count(*) AS cnt
        |        FROM a1, range(1, 17) t(i) GROUP BY sub, cell, i)
        |  GROUP BY sub, cell),
        |a2 AS (
        |  SELECT vid, sub, cell FROM (
        |    SELECT sv.vid, sv.sub, b.cell,
        |           row_number() OVER (PARTITION BY sv.vid, sv.sub ORDER BY
        |             list_sum(list_transform(range(1, 17),
        |               i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))), b.cell) AS rn
        |    FROM sv JOIN b2 b USING (sub)) WHERE rn = 1),
        |dtable AS (
        |  SELECT sv.vid AS q_id, sv.sub, b.cell,
        |         CAST(list_sum(list_transform(range(1, 17),
        |           i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))) AS BIGINT) AS d2
        |  FROM sv JOIN b2 b USING (sub)
        |  WHERE sv.vid < 10),
        |scored AS (
        |  SELECT d.q_id, a.vid AS n_id, CAST(sum(d.d2) AS BIGINT) AS d2
        |  FROM a2 a JOIN dtable d ON a.sub = d.sub AND a.cell = d.cell
        |  WHERE d.q_id <> a.vid
        |  GROUP BY d.q_id, a.vid)
        |SELECT q_id, n_id,
        |       CAST(rank AS BIGINT) AS rank, d2
        |FROM (SELECT q_id, n_id, d2,
        |             row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rank
        |      FROM scored)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "q155_ivfpq" ->
      """WITH emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e
        |             FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS ccell,
        |         e AS c_e
        |  FROM emb QUALIFY ccell <= 16),
        |asg AS (
        |  SELECT vec_id AS n_id, ccell FROM (
        |    SELECT emb.vec_id, cent.ccell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |             ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.ccell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |probes AS (
        |  SELECT q_id, ccell FROM (
        |    SELECT emb.vec_id AS q_id, cent.ccell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |             ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.ccell) AS pr
        |    FROM emb, cent WHERE emb.vec_id < 10) WHERE pr <= 4),
        |q AS (SELECT vec_id AS vid,
        |             [CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT)
        |              FOR x IN embedding] AS qe
        |      FROM embeddings),
        |sv AS (SELECT vid, s.s AS sub, qe[s.s * 16 + 1 : s.s * 16 + 16] AS sq
        |       FROM q, range(0, 4) s(s)),
        |b0 AS (
        |  SELECT sub, cell, sq AS c FROM (
        |    SELECT sub, vid, sq,
        |           row_number() OVER (PARTITION BY sub
        |             ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS cell
        |    FROM sv) WHERE cell <= 16),
        |a0 AS (
        |  SELECT vid, sub, sq, cell FROM (
        |    SELECT sv.vid, sv.sub, sv.sq, b.cell,
        |           row_number() OVER (PARTITION BY sv.vid, sv.sub ORDER BY
        |             list_sum(list_transform(range(1, 17),
        |               i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))), b.cell) AS rn
        |    FROM sv JOIN b0 b USING (sub)) WHERE rn = 1),
        |b1 AS (
        |  SELECT sub, cell,
        |         list(CAST(floor(CAST(sv AS DOUBLE) / cnt) AS BIGINT) ORDER BY dim) AS c
        |  FROM (SELECT sub, cell, i AS dim, CAST(sum(sq[i]) AS BIGINT) AS sv,
        |               count(*) AS cnt
        |        FROM a0, range(1, 17) t(i) GROUP BY sub, cell, i)
        |  GROUP BY sub, cell),
        |a1 AS (
        |  SELECT vid, sub, cell FROM (
        |    SELECT sv.vid, sv.sub, b.cell,
        |           row_number() OVER (PARTITION BY sv.vid, sv.sub ORDER BY
        |             list_sum(list_transform(range(1, 17),
        |               i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))), b.cell) AS rn
        |    FROM sv JOIN b1 b USING (sub)) WHERE rn = 1),
        |dtable AS (
        |  SELECT sv.vid AS q_id, sv.sub, b.cell,
        |         CAST(list_sum(list_transform(range(1, 17),
        |           i -> (sv.sq[i] - b.c[i]) * (sv.sq[i] - b.c[i]))) AS BIGINT) AS d2
        |  FROM sv JOIN b1 b USING (sub)
        |  WHERE sv.vid < 10),
        |cand AS (
        |  SELECT p.q_id, a.n_id
        |  FROM probes p JOIN asg a USING (ccell)),
        |scored AS (
        |  SELECT c.q_id, c.n_id, CAST(sum(d.d2) AS BIGINT) AS d2
        |  FROM cand c
        |  JOIN a1 ON a1.vid = c.n_id
        |  JOIN dtable d ON d.q_id = c.q_id AND d.sub = a1.sub AND d.cell = a1.cell
        |  WHERE c.q_id <> c.n_id
        |  GROUP BY c.q_id, c.n_id)
        |SELECT q_id, n_id, CAST(rank AS BIGINT) AS rank, d2
        |FROM (SELECT q_id, n_id, d2,
        |             row_number() OVER (PARTITION BY q_id ORDER BY d2, n_id) AS rank
        |      FROM scored)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,

    "q159_golden_record" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id),
        |j AS (
        |  SELECT lab.rep, d.doc_id, d.text, d.lang, d.source, d.n_chars
        |  FROM lab JOIN documents d ON d.doc_id = lab.doc_id),
        |base AS (
        |  SELECT rep, CAST(count(*) AS BIGINT) AS n_members,
        |         CAST(min(doc_id) AS BIGINT) AS canonical_id,
        |         CAST(max(n_chars) AS BIGINT) AS n_chars
        |  FROM j GROUP BY rep),
        |lt AS (
        |  SELECT rep, text FROM (
        |    SELECT rep, text,
        |           row_number() OVER (PARTITION BY rep
        |             ORDER BY length(text) DESC, text DESC) AS rn
        |    FROM j) WHERE rn = 1),
        |ml AS (
        |  SELECT rep, lang FROM (
        |    SELECT rep, lang, count(*) AS c FROM j GROUP BY rep, lang)
        |  QUALIFY row_number() OVER (PARTITION BY rep ORDER BY c DESC, lang) = 1),
        |ms AS (
        |  SELECT rep, source FROM (
        |    SELECT rep, source, count(*) AS c FROM j GROUP BY rep, source)
        |  QUALIFY row_number() OVER (PARTITION BY rep ORDER BY c DESC, source) = 1)
        |SELECT b.rep, b.n_members, b.canonical_id, lt.text, b.n_chars,
        |       ml.lang, ms.source
        |FROM base b
        |JOIN lt ON lt.rep = b.rep
        |JOIN ml ON ml.rep = b.rep
        |JOIN ms ON ms.rep = b.rep
        |ORDER BY b.rep""".stripMargin,

    "q156_pareto_docs" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
        |         CAST(-list_max(list_transform(list_distinct(toks),
        |           d -> len(list_filter(toks, x -> x = d)))) AS BIGINT) AS neg_top
        |  FROM t)
        |SELECT r.doc_id, r.n_tokens, r.n_uniq, r.neg_top
        |FROM c r
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM c d
        |  WHERE d.n_tokens >= r.n_tokens AND d.n_uniq >= r.n_uniq
        |    AND d.neg_top >= r.neg_top
        |    AND (d.n_tokens > r.n_tokens OR d.n_uniq > r.n_uniq
        |         OR d.neg_top > r.neg_top))
        |ORDER BY r.doc_id""".stripMargin,

    "q144_ivf_upsert" ->
      """WITH emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb WHERE vec_id >= 100
        |  QUALIFY cell <= 64),
        |asg AS (
        |  SELECT n_id, n_e, cell FROM (
        |    SELECT emb.vec_id AS n_id, emb.e AS n_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |probe AS (
        |  SELECT q_id, q_e, cell FROM (
        |    SELECT emb.vec_id AS q_id, emb.e AS q_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent WHERE emb.vec_id < 10) WHERE rn <= 8),
        |scored AS (
        |  SELECT probe.q_id, asg.n_id, list_cosine_similarity(probe.q_e, asg.n_e) AS sim
        |  FROM probe JOIN asg USING (cell)
        |  WHERE asg.n_id <> probe.q_id)
        |SELECT q_id, n_id,
        |       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank,
        |       round(sim, 4) AS sim
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY q_id, rank""".stripMargin,

    "q142_phash_dedup" ->
      """WITH m AS (
        |  SELECT doc_id AS media_id, text AS s,
        |         greatest(1, CAST(len(text) // 64 AS INT)) AS bl
        |  FROM documents),
        |bits AS (
        |  SELECT media_id, r.b AS b,
        |         CASE WHEN (instr('0123456789abcdef',
        |                          substr(md5(substr(s, r.b * bl + 1, bl)), 1, 1)) - 1) % 2 = 1
        |              THEN 1 ELSE 0 END AS bit
        |  FROM m, range(0, 64) r(b)),
        |fp AS (SELECT media_id, list(bit ORDER BY b) AS bits FROM bits GROUP BY media_id),
        |ham AS (
        |  SELECT a.media_id AS x_id, b.media_id AS y_id,
        |         len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) AS hamming
        |  FROM fp a JOIN fp b ON a.media_id < b.media_id)
        |SELECT x_id, y_id, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3 ORDER BY 1, 2""".stripMargin,

    "q161_cdc_fingerprint" ->
      """WITH m AS (SELECT doc_id AS media_id, text AS s FROM documents),
        |st AS (
        |  SELECT media_id, s,
        |    CASE WHEN len(s) <= 8 THEN [1]
        |         ELSE [1] || list_filter(
        |                list_transform(range(1, len(s) - 8 + 1),
        |                  i -> CASE WHEN substr(md5(substr(s, i, 8)), 1, 1) = '0'
        |                            THEN i + 8 ELSE -1 END),
        |                p -> p > 1)
        |    END AS starts
        |  FROM m),
        |poss AS (
        |  SELECT media_id,
        |    list_transform(range(1, len(starts) + 1),
        |      ci -> (16 * (instr('0123456789abcdef',
        |                         substr(md5(substr(s, starts[ci],
        |                           CASE WHEN ci = len(starts) THEN len(s)
        |                                ELSE starts[ci + 1] - starts[ci] END)), 1, 1)) - 1)
        |             + instr('0123456789abcdef',
        |                     substr(md5(substr(s, starts[ci],
        |                       CASE WHEN ci = len(starts) THEN len(s)
        |                            ELSE starts[ci + 1] - starts[ci] END)), 2, 1)) - 1) % 64) AS ps
        |  FROM st),
        |fp AS (
        |  SELECT media_id,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        list_transform(ps, p -> CASE WHEN p = 63
        |                                     THEN CAST(-9223372036854775807 AS BIGINT) - 1
        |                                     ELSE CAST(1 AS BIGINT) << CAST(p AS INT) END)),
        |      (a, b) -> xor(a, b)) AS fp
        |  FROM poss)
        |SELECT media_id, fp FROM fp ORDER BY media_id""".stripMargin,

    "q179_rule_fused_verify" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), x -> x <> '')) AS toks
        |  FROM documents),
        |f AS (SELECT doc_id, toks, len(toks) AS l FROM t WHERE len(toks) > 0),
        |j AS (
        |  SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |         CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
        |         a.l AS la, b.l AS lb
        |  FROM f a JOIN f b ON b.doc_id = a.doc_id + 1)
        |SELECT x_id, y_id, inter,
        |       inter * 10000 // (la + lb - inter) AS jac_bp
        |FROM j ORDER BY x_id""".stripMargin,

    "q174_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |p1 AS (
        |  SELECT 'value table' AS phrase, doc_id,
        |         list_filter(range(1, len(w)),
        |                     i -> w[i] = 'value' AND w[i+1] = 'table') AS ps
        |  FROM t),
        |p2 AS (
        |  SELECT 'table table part' AS phrase, doc_id,
        |         list_filter(range(1, len(w) - 1),
        |                     i -> w[i] = 'table' AND w[i+1] = 'table'
        |                          AND w[i+2] = 'part') AS ps
        |  FROM t),
        |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        |SELECT phrase, doc_id, CAST(len(ps) AS BIGINT) AS n_occ,
        |       CAST(ps[1] AS BIGINT) AS first_pos
        |FROM u WHERE len(ps) >= 1 ORDER BY phrase, doc_id""".stripMargin,

    "q173_er_pipeline" ->
      """WITH RECURSIVE a AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |         CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |b AS (
        |  SELECT id + 1000000 AS yid,
        |         CASE WHEN id % 7 = 0 THEN name || '~' ELSE name END AS bname,
        |         CASE WHEN id % 5 = 0 THEN (nat + 1) % 25 ELSE nat END AS bnat,
        |         CASE WHEN id % 11 = 0 THEN 'UNKNOWN' ELSE seg END AS bseg,
        |         CASE WHEN id % 3 = 0 THEN cents + 1 ELSE cents END AS bcents
        |  FROM a),
        |u AS (
        |  SELECT 'name' AS attr, CAST(sum(f*f) AS BIGINT) AS un,
        |         CAST(sum(f)*sum(f) AS BIGINT) AS ud
        |  FROM (SELECT count(*) AS f FROM a GROUP BY name)
        |  UNION ALL
        |  SELECT 'nat', CAST(sum(f*f) AS BIGINT), CAST(sum(f)*sum(f) AS BIGINT)
        |  FROM (SELECT count(*) AS f FROM a GROUP BY nat)
        |  UNION ALL
        |  SELECT 'seg', CAST(sum(f*f) AS BIGINT), CAST(sum(f)*sum(f) AS BIGINT)
        |  FROM (SELECT count(*) AS f FROM a GROUP BY seg)
        |  UNION ALL
        |  SELECT 'cents', CAST(sum(f*f) AS BIGINT), CAST(sum(f)*sum(f) AS BIGINT)
        |  FROM (SELECT count(*) AS f FROM a GROUP BY cents)),
        |l AS (
        |  SELECT a.name AS an, b.bname AS bn, a.nat AS at2, b.bnat AS bt,
        |         a.seg AS asg, b.bseg AS bsg, a.cents AS ac, b.bcents AS bc
        |  FROM a JOIN b ON b.yid = a.id + 1000000
        |  WHERE a.id % 10 = 0),
        |m AS (
        |  SELECT 'name' AS attr,
        |         CAST(count(*) FILTER (WHERE an IS NOT DISTINCT FROM bn) + 1 AS BIGINT) AS mn,
        |         CAST(count(*) + 2 AS BIGINT) AS md FROM l
        |  UNION ALL
        |  SELECT 'nat',
        |         CAST(count(*) FILTER (WHERE at2 IS NOT DISTINCT FROM bt) + 1 AS BIGINT),
        |         CAST(count(*) + 2 AS BIGINT) FROM l
        |  UNION ALL
        |  SELECT 'seg',
        |         CAST(count(*) FILTER (WHERE asg IS NOT DISTINCT FROM bsg) + 1 AS BIGINT),
        |         CAST(count(*) + 2 AS BIGINT) FROM l
        |  UNION ALL
        |  SELECT 'cents',
        |         CAST(count(*) FILTER (WHERE ac IS NOT DISTINCT FROM bc) + 1 AS BIGINT),
        |         CAST(count(*) + 2 AS BIGINT) FROM l),
        |w0 AS (
        |  SELECT m.attr, mn, md, un // gcd(un, ud) AS un2, ud // gcd(un, ud) AS ud2
        |  FROM m JOIN u USING (attr)),
        |w1 AS (
        |  SELECT attr,
        |         (mn * ud2) // gcd(mn * ud2, md * un2) AS an,
        |         (md * un2) // gcd(mn * ud2, md * un2) AS ad,
        |         ((md - mn) * ud2) // gcd((md - mn) * ud2, md * (ud2 - un2)) AS dn,
        |         (md * (ud2 - un2)) // gcd((md - mn) * ud2, md * (ud2 - un2)) AS dd
        |  FROM w0),
        |ws AS (
        |  SELECT attr, an, ad, dn, dd,
        |         (greatest(an, ad) + 999999) // 1000000 AS sa,
        |         (greatest(dn, dd) + 999999) // 1000000 AS sd
        |  FROM w1),
        |w AS (
        |  SELECT attr,
        |         greatest(1, an // sa) AS an, greatest(1, ad // sa) AS ad,
        |         greatest(1, dn // sd) AS dn, greatest(1, dd // sd) AS dd
        |  FROM ws),
        |cand AS (
        |  SELECT DISTINCT x, y FROM (
        |    SELECT a.id AS x, b.yid AS y
        |    FROM a JOIN b ON substr(a.name, 10, 9) = substr(b.bname, 10, 9)
        |    UNION ALL
        |    SELECT a.id, b.yid FROM a JOIN b ON a.cents = b.bcents)),
        |p AS (
        |  SELECT c.x, c.y,
        |         a.name IS NOT DISTINCT FROM b.bname AS agree_name,
        |         a.nat IS NOT DISTINCT FROM b.bnat AS agree_nat,
        |         a.seg IS NOT DISTINCT FROM b.bseg AS agree_seg,
        |         a.cents IS NOT DISTINCT FROM b.bcents AS agree_cents
        |  FROM cand c JOIN a ON a.id = c.x JOIN b ON b.yid = c.y),
        |s AS (
        |  SELECT x, y,
        |         (CASE WHEN agree_name THEN wn.an ELSE wn.dn END)::HUGEINT
        |           * (CASE WHEN agree_nat THEN wt.an ELSE wt.dn END)
        |           * (CASE WHEN agree_seg THEN ws2.an ELSE ws2.dn END)
        |           * (CASE WHEN agree_cents THEN wc.an ELSE wc.dn END) AS num,
        |         (CASE WHEN agree_name THEN wn.ad ELSE wn.dd END)::HUGEINT
        |           * (CASE WHEN agree_nat THEN wt.ad ELSE wt.dd END)
        |           * (CASE WHEN agree_seg THEN ws2.ad ELSE ws2.dd END)
        |           * (CASE WHEN agree_cents THEN wc.ad ELSE wc.dd END) AS den
        |  FROM p,
        |       (SELECT * FROM w WHERE attr = 'name') wn,
        |       (SELECT * FROM w WHERE attr = 'nat') wt,
        |       (SELECT * FROM w WHERE attr = 'seg') ws2,
        |       (SELECT * FROM w WHERE attr = 'cents') wc),
        |match0 AS (SELECT x, y FROM s WHERE num >= den * 1000),
        |edges AS (SELECT x AS ea, y AS eb FROM match0
        |          UNION SELECT y, x FROM match0),
        |reach AS (
        |  SELECT ea, eb FROM edges
        |  UNION
        |  SELECT r.ea, e.eb FROM reach r JOIN edges e ON r.eb = e.ea),
        |nodes AS (SELECT id FROM a UNION ALL SELECT yid FROM b)
        |SELECT n.id, least(n.id, coalesce(min(r.eb), n.id)) AS rep
        |FROM nodes n LEFT JOIN reach r ON r.ea = n.id
        |GROUP BY n.id
        |ORDER BY n.id""".stripMargin,

    "q171_kn_lm" ->
      """WITH tr AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents WHERE doc_id % 2 = 0),
        |tp AS (
        |  SELECT w[i] AS w, w[i + 1] AS next
        |  FROM tr, unnest(range(1, greatest(len(w), 1))) r(i)),
        |bi AS (SELECT w, next, CAST(count(*) AS BIGINT) AS cnt FROM tp GROUP BY 1, 2),
        |ctx AS (
        |  SELECT w, CAST(sum(cnt) AS BIGINT) AS ctx,
        |         CAST(count(*) AS BIGINT) AS n1w
        |  FROM bi GROUP BY 1),
        |cont AS (SELECT next, CAST(count(*) AS BIGINT) AS ncont FROM bi GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM bi),
        |dt AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |dp AS (
        |  SELECT doc_id, w[i] AS w, w[i + 1] AS next
        |  FROM dt, unnest(range(1, greatest(len(w), 1))) r(i)),
        |db AS (
        |  SELECT doc_id, w, next, CAST(count(*) AS BIGINT) AS k
        |  FROM dp GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT db.doc_id, db.k,
        |         CASE WHEN ctx.ctx IS NOT NULL AND bi.cnt IS NOT NULL
        |              THEN (10000 * ((4 * bi.cnt - 3) * nt.nt
        |                             + 3 * ctx.n1w * COALESCE(cont.ncont, 0)))
        |                   // (4 * ctx.ctx * nt.nt)
        |              WHEN ctx.ctx IS NOT NULL
        |              THEN (10000 * 3 * ctx.n1w * COALESCE(cont.ncont, 0))
        |                   // (4 * ctx.ctx * nt.nt)
        |              ELSE (10000 * COALESCE(cont.ncont, 0)) // nt.nt END AS p_bp,
        |         CASE WHEN bi.cnt IS NULL THEN db.k ELSE 0 END AS bk
        |  FROM db
        |  LEFT JOIN ctx ON ctx.w = db.w
        |  LEFT JOIN bi ON bi.w = db.w AND bi.next = db.next
        |  LEFT JOIN cont ON cont.next = db.next
        |  CROSS JOIN nt),
        |agg AS (
        |  SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |         CAST(sum(bk) AS BIGINT) AS n_backoff, sum(k * p_bp) AS s
        |  FROM sc GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(COALESCE(a.n_backoff, 0) AS BIGINT) AS n_backoff,
        |       CAST(CASE WHEN COALESCE(a.n_bigrams, 0) = 0 THEN 0
        |                 ELSE a.s // a.n_bigrams END AS BIGINT) AS score_bp
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q170_luhn_redact" ->
      """WITH v AS (
        |  SELECT ['4100003703703673','4200004938271568','4300006172839454',
        |          '4400007407407348','4500008641975230'] AS vc,
        |         ['4100003703703674','4200004938271569','4300006172839455',
        |          '4400007407407349','4500008641975231'] AS ic),
        |d AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0 THEN text || ' card ' || vc[CAST(doc_id % 5 + 1 AS INT)]
        |              WHEN doc_id % 3 = 1 THEN text || ' ref ' || ic[CAST(doc_id % 5 + 1 AS INT)]
        |              ELSE text END AS text
        |  FROM documents, v),
        |runs AS (
        |  SELECT doc_id, text,
        |         regexp_extract_all(text, '[0-9][0-9 -]{11,21}[0-9]') AS rs
        |  FROM d),
        |cards AS (
        |  SELECT doc_id, text,
        |         list_transform(
        |           list_filter(
        |             list_transform(rs, r ->
        |               struct_pack(r := r, d := regexp_replace(r, '[ -]', '', 'g'))),
        |             s -> len(s.d) BETWEEN 13 AND 19 AND
        |                  list_sum(list_transform(range(1, len(s.d) + 1), i ->
        |                    CASE WHEN (len(s.d) - i) % 2 = 1
        |                         THEN CASE WHEN 2 * (ascii(substr(s.d, CAST(i AS INT), 1)) - 48) > 9
        |                                   THEN 2 * (ascii(substr(s.d, CAST(i AS INT), 1)) - 48) - 9
        |                                   ELSE 2 * (ascii(substr(s.d, CAST(i AS INT), 1)) - 48) END
        |                         ELSE ascii(substr(s.d, CAST(i AS INT), 1)) - 48 END)) % 10 = 0),
        |           s -> s.r) AS cs
        |  FROM runs)
        |SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_cards,
        |       list_reduce(list_prepend(text, cs),
        |                   (acc, r) -> replace(acc, r, '[CARD]')) AS clean_text
        |FROM cards ORDER BY doc_id""".stripMargin,

    "q168_record_linkage" ->
      """WITH a AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |         CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |b AS (
        |  SELECT id + 1000000 AS yid,
        |         CASE WHEN id % 7 = 0 THEN name || '~' ELSE name END AS bname,
        |         CASE WHEN id % 5 = 0 THEN (nat + 1) % 25 ELSE nat END AS bnat,
        |         CASE WHEN id % 11 = 0 THEN 'UNKNOWN' ELSE seg END AS bseg,
        |         CASE WHEN id % 3 = 0 THEN cents + 1 ELSE cents END AS bcents
        |  FROM a),
        |u AS (
        |  SELECT 'name' AS attr, CAST(sum(f*f) AS BIGINT) AS un,
        |         CAST(sum(f)*sum(f) AS BIGINT) AS ud
        |  FROM (SELECT count(*) AS f FROM a GROUP BY name)
        |  UNION ALL
        |  SELECT 'nat', CAST(sum(f*f) AS BIGINT), CAST(sum(f)*sum(f) AS BIGINT)
        |  FROM (SELECT count(*) AS f FROM a GROUP BY nat)
        |  UNION ALL
        |  SELECT 'seg', CAST(sum(f*f) AS BIGINT), CAST(sum(f)*sum(f) AS BIGINT)
        |  FROM (SELECT count(*) AS f FROM a GROUP BY seg)
        |  UNION ALL
        |  SELECT 'cents', CAST(sum(f*f) AS BIGINT), CAST(sum(f)*sum(f) AS BIGINT)
        |  FROM (SELECT count(*) AS f FROM a GROUP BY cents)),
        |l AS (
        |  SELECT a.name AS an, b.bname AS bn, a.nat AS at2, b.bnat AS bt,
        |         a.seg AS asg, b.bseg AS bsg, a.cents AS ac, b.bcents AS bc
        |  FROM a JOIN b ON b.yid = a.id + 1000000
        |  WHERE a.id % 10 = 0),
        |m AS (
        |  SELECT 'name' AS attr,
        |         CAST(count(*) FILTER (WHERE an IS NOT DISTINCT FROM bn) + 1 AS BIGINT) AS mn,
        |         CAST(count(*) + 2 AS BIGINT) AS md FROM l
        |  UNION ALL
        |  SELECT 'nat',
        |         CAST(count(*) FILTER (WHERE at2 IS NOT DISTINCT FROM bt) + 1 AS BIGINT),
        |         CAST(count(*) + 2 AS BIGINT) FROM l
        |  UNION ALL
        |  SELECT 'seg',
        |         CAST(count(*) FILTER (WHERE asg IS NOT DISTINCT FROM bsg) + 1 AS BIGINT),
        |         CAST(count(*) + 2 AS BIGINT) FROM l
        |  UNION ALL
        |  SELECT 'cents',
        |         CAST(count(*) FILTER (WHERE ac IS NOT DISTINCT FROM bc) + 1 AS BIGINT),
        |         CAST(count(*) + 2 AS BIGINT) FROM l),
        |w0 AS (
        |  SELECT m.attr, mn, md, un // gcd(un, ud) AS un2, ud // gcd(un, ud) AS ud2
        |  FROM m JOIN u USING (attr)),
        |w1 AS (
        |  SELECT attr,
        |         (mn * ud2) // gcd(mn * ud2, md * un2) AS an,
        |         (md * un2) // gcd(mn * ud2, md * un2) AS ad,
        |         ((md - mn) * ud2) // gcd((md - mn) * ud2, md * (ud2 - un2)) AS dn,
        |         (md * (ud2 - un2)) // gcd((md - mn) * ud2, md * (ud2 - un2)) AS dd
        |  FROM w0),
        |ws AS (
        |  SELECT attr, an, ad, dn, dd,
        |         (greatest(an, ad) + 999999) // 1000000 AS sa,
        |         (greatest(dn, dd) + 999999) // 1000000 AS sd
        |  FROM w1),
        |w AS (
        |  SELECT attr,
        |         greatest(1, an // sa) AS an, greatest(1, ad // sa) AS ad,
        |         greatest(1, dn // sd) AS dn, greatest(1, dd // sd) AS dd
        |  FROM ws),
        |cand AS (
        |  SELECT id AS x, id + 1000000 AS y FROM a
        |  UNION ALL
        |  SELECT id, ((id + 1) % (SELECT count(*) FROM a)) + 1000000 FROM a),
        |p AS (
        |  SELECT c.x, c.y,
        |         a.name IS NOT DISTINCT FROM b.bname AS agree_name,
        |         a.nat IS NOT DISTINCT FROM b.bnat AS agree_nat,
        |         a.seg IS NOT DISTINCT FROM b.bseg AS agree_seg,
        |         a.cents IS NOT DISTINCT FROM b.bcents AS agree_cents
        |  FROM cand c JOIN a ON a.id = c.x JOIN b ON b.yid = c.y),
        |s AS (
        |  SELECT x AS x_id, y AS y_id, agree_name, agree_nat, agree_seg, agree_cents,
        |         (CASE WHEN agree_name THEN wn.an ELSE wn.dn END)::HUGEINT
        |           * (CASE WHEN agree_nat THEN wt.an ELSE wt.dn END)
        |           * (CASE WHEN agree_seg THEN ws.an ELSE ws.dn END)
        |           * (CASE WHEN agree_cents THEN wc.an ELSE wc.dn END) AS score_num,
        |         (CASE WHEN agree_name THEN wn.ad ELSE wn.dd END)::HUGEINT
        |           * (CASE WHEN agree_nat THEN wt.ad ELSE wt.dd END)
        |           * (CASE WHEN agree_seg THEN ws.ad ELSE ws.dd END)
        |           * (CASE WHEN agree_cents THEN wc.ad ELSE wc.dd END) AS score_den
        |  FROM p,
        |       (SELECT * FROM w WHERE attr = 'name') wn,
        |       (SELECT * FROM w WHERE attr = 'nat') wt,
        |       (SELECT * FROM w WHERE attr = 'seg') ws,
        |       (SELECT * FROM w WHERE attr = 'cents') wc)
        |SELECT x_id, y_id, agree_name, agree_nat, agree_seg, agree_cents,
        |       CAST(score_num AS VARCHAR) AS score_num,
        |       CAST(score_den AS VARCHAR) AS score_den,
        |       score_num >= score_den * 1000 AS is_match
        |FROM s ORDER BY x_id, y_id""".stripMargin,

    // q168's fixture with the weights fitted UNSUPERVISED: 8 fixed-point
    // EM iterations (all-integer, scale 10^6) replayed in HUGEINT — the
    // emRound helper unrolls the q101/q120 iteration idiom.
    "q183_em_linkage" ->
      ("""WITH a AS (
        |  SELECT c_custkey AS id, c_name AS name,
        |         CAST(c_nationkey AS BIGINT) AS nat, c_mktsegment AS seg,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
        |  FROM customer),
        |b AS (
        |  SELECT id + 1000000 AS yid,
        |         CASE WHEN id % 7 = 0 THEN name || '~' ELSE name END AS bname,
        |         CASE WHEN id % 5 = 0 THEN (nat + 1) % 25 ELSE nat END AS bnat,
        |         CASE WHEN id % 11 = 0 THEN 'UNKNOWN' ELSE seg END AS bseg,
        |         CASE WHEN id % 3 = 0 THEN cents + 1 ELSE cents END AS bcents
        |  FROM a),
        |cand AS (
        |  SELECT id AS x, id + 1000000 AS y FROM a
        |  UNION ALL
        |  SELECT id, ((id + 1) % (SELECT count(*) FROM a)) + 1000000 FROM a),
        |pr AS (
        |  SELECT c.x, c.y,
        |         a.name IS NOT DISTINCT FROM b.bname AS g1,
        |         a.nat IS NOT DISTINCT FROM b.bnat AS g2,
        |         a.seg IS NOT DISTINCT FROM b.bseg AS g3,
        |         a.cents IS NOT DISTINCT FROM b.bcents AS g4
        |  FROM cand c JOIN a ON a.id = c.x JOIN b ON b.yid = c.y),
        |hist AS (
        |  SELECT g1, g2, g3, g4, CAST(count(*) AS HUGEINT) AS c
        |  FROM pr GROUP BY 1, 2, 3, 4),
        |nn AS (SELECT sum(c) AS n FROM hist),
        |em0 AS (
        |  SELECT CAST(100000 AS HUGEINT) AS p,
        |         CAST(900000 AS HUGEINT) AS m1, CAST(900000 AS HUGEINT) AS m2,
        |         CAST(900000 AS HUGEINT) AS m3, CAST(900000 AS HUGEINT) AS m4,
        |         CAST(100000 AS HUGEINT) AS u1, CAST(100000 AS HUGEINT) AS u2,
        |         CAST(100000 AS HUGEINT) AS u3, CAST(100000 AS HUGEINT) AS u4),
        |""" + (1 to 8).map(emRound).mkString("\n") + """
        |wt AS (
        |  SELECT 'name' AS attr, CAST(m1 AS BIGINT) AS mv, CAST(u1 AS BIGINT) AS uv FROM em8
        |  UNION ALL SELECT 'nat', CAST(m2 AS BIGINT), CAST(u2 AS BIGINT) FROM em8
        |  UNION ALL SELECT 'seg', CAST(m3 AS BIGINT), CAST(u3 AS BIGINT) FROM em8
        |  UNION ALL SELECT 'cents', CAST(m4 AS BIGINT), CAST(u4 AS BIGINT) FROM em8),
        |w AS (
        |  SELECT attr,
        |         mv // gcd(mv, uv) AS an, uv // gcd(mv, uv) AS ad,
        |         (1000000 - mv) // gcd(1000000 - mv, 1000000 - uv) AS dn,
        |         (1000000 - uv) // gcd(1000000 - mv, 1000000 - uv) AS dd
        |  FROM wt),
        |s AS (
        |  SELECT pr.x AS x_id, pr.y AS y_id,
        |         g1 AS agree_name, g2 AS agree_nat, g3 AS agree_seg, g4 AS agree_cents,
        |         (CASE WHEN g1 THEN wn.an ELSE wn.dn END)::HUGEINT
        |           * (CASE WHEN g2 THEN wt2.an ELSE wt2.dn END)
        |           * (CASE WHEN g3 THEN ws.an ELSE ws.dn END)
        |           * (CASE WHEN g4 THEN wc.an ELSE wc.dn END) AS score_num,
        |         (CASE WHEN g1 THEN wn.ad ELSE wn.dd END)::HUGEINT
        |           * (CASE WHEN g2 THEN wt2.ad ELSE wt2.dd END)
        |           * (CASE WHEN g3 THEN ws.ad ELSE ws.dd END)
        |           * (CASE WHEN g4 THEN wc.ad ELSE wc.dd END) AS score_den
        |  FROM pr,
        |       (SELECT * FROM w WHERE attr = 'name') wn,
        |       (SELECT * FROM w WHERE attr = 'nat') wt2,
        |       (SELECT * FROM w WHERE attr = 'seg') ws,
        |       (SELECT * FROM w WHERE attr = 'cents') wc)
        |SELECT x_id, y_id, agree_name, agree_nat, agree_seg, agree_cents,
        |       CAST(score_num AS VARCHAR) AS score_num,
        |       CAST(score_den AS VARCHAR) AS score_den,
        |       score_num >= score_den * 1000000 AS is_match
        |FROM s ORDER BY x_id, y_id""").stripMargin,

    // per-bucket shares in floor basis points, χ² contribs in floor
    // integer division
    "q187_chi_drift" ->
      """WITH ref AS (SELECT lang FROM documents WHERE doc_id % 2 = 0),
        |cur AS (
        |  SELECT lang FROM documents
        |  WHERE doc_id % 2 = 1 AND NOT (lang = 'de' AND doc_id % 4 = 1)),
        |ac AS (SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS a_n FROM ref GROUP BY 1),
        |bc AS (SELECT lang AS bucket, CAST(count(*) AS BIGINT) AS b_n FROM cur GROUP BY 1),
        |at2 AS (SELECT count(*) AS t FROM ref),
        |bt AS (SELECT count(*) AS t FROM cur),
        |j AS (
        |  SELECT COALESCE(ac.bucket, bc.bucket) AS bucket,
        |         COALESCE(a_n, 0) AS a_n, COALESCE(b_n, 0) AS b_n
        |  FROM ac FULL OUTER JOIN bc ON ac.bucket = bc.bucket),
        |s AS (
        |  SELECT bucket, a_n, b_n,
        |         CAST(a_n * 10000 // (SELECT t FROM at2) AS BIGINT) AS a_bp,
        |         CAST(b_n * 10000 // (SELECT t FROM bt) AS BIGINT) AS b_bp
        |  FROM j)
        |SELECT bucket, a_n, b_n, a_bp, b_bp,
        |       CASE WHEN a_bp + b_bp = 0 THEN 0
        |            ELSE (a_bp - b_bp) * (a_bp - b_bp) * 10000 // (a_bp + b_bp)
        |       END AS contrib
        |FROM s ORDER BY bucket""".stripMargin,

    // word-grain frequent-"line" inventory per source (distinct docs),
    // all-occurrence removal, ordered reassembly; string_agg skips the
    // NULLs the removal CASE leaves, mirroring collect_list
    "q189_boilerplate" ->
      """WITH seg AS (
        |  SELECT source, doc_id AS id, CAST(i - 1 AS BIGINT) AS pos, trim(s[i]) AS line
        |  FROM (SELECT source, doc_id, string_split(text, ' ') AS s FROM documents),
        |       unnest(range(1, len(s) + 1)) r(i)
        |  WHERE length(trim(s[i])) > 0),
        |freq AS (
        |  SELECT source, line
        |  FROM (SELECT DISTINCT source, id, line FROM seg)
        |  GROUP BY source, line HAVING count(*) >= 20),
        |keep AS (
        |  SELECT seg.id, seg.pos, seg.line, f.line IS NOT NULL AS bp
        |  FROM seg LEFT JOIN freq f ON seg.source = f.source AND seg.line = f.line),
        |agg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_lines,
        |         CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |         string_agg(CASE WHEN NOT bp THEN line END, chr(10) ORDER BY pos) AS text_clean
        |  FROM keep GROUP BY id)
        |SELECT d.doc_id AS id, coalesce(n_lines, 0) AS n_lines,
        |       coalesce(n_removed, 0) AS n_removed,
        |       coalesce(text_clean, '') AS text_clean
        |FROM documents d LEFT JOIN agg ON agg.id = d.doc_id ORDER BY id""".stripMargin,

    // argmax/argmin per group via deterministic row_number mirrors the
    // engine's min(struct) tie-breaks
    "q190_preference_pairs" ->
      """WITH c AS (
        |  SELECT source AS g, doc_id AS id, CAST(length(text) AS BIGINT) AS score
        |  FROM documents),
        |n AS (SELECT g, CAST(count(*) AS BIGINT) AS n_candidates FROM c GROUP BY g),
        |b AS (SELECT g, id AS chosen_id, score AS chosen_score
        |      FROM (SELECT g, id, score,
        |              row_number() OVER (PARTITION BY g ORDER BY score DESC, id) AS rn
        |            FROM c) WHERE rn = 1),
        |w AS (SELECT g, id AS rejected_id, score AS rejected_score
        |      FROM (SELECT g, id, score,
        |              row_number() OVER (PARTITION BY g ORDER BY score ASC, id) AS rn
        |            FROM c) WHERE rn = 1)
        |SELECT n.g, n.n_candidates, b.chosen_id, b.chosen_score,
        |       w.rejected_id, w.rejected_score,
        |       b.chosen_score - w.rejected_score AS margin
        |FROM n JOIN b USING (g) JOIN w USING (g)
        |WHERE b.chosen_id <> w.rejected_id
        |  AND b.chosen_score - w.rejected_score >= 1
        |ORDER BY g""".stripMargin,

    // per-phrase slice scan over every start position, grouped — the
    // brute-force mirror of the anchored one-pass plan
    "q195_dictionary_match" ->
      """WITH dict AS (
        |  SELECT * FROM (VALUES
        |    ('p_fast_table', ['fast', 'table']),
        |    ('p_ghost', ['zz', 'unseen', 'gram']),
        |    ('p_key_agg', ['key', 'agg']),
        |    ('p_spark_win', ['spark', 'window']),
        |    ('p_tbl3', ['table', 'table', 'table'])) t(pid, p)),
        |t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |m AS (
        |  SELECT doc_id AS id, pid, CAST(i AS BIGINT) AS start
        |  FROM t, dict, unnest(range(1, greatest(len(ts) - len(p) + 2, 1))) r(i)
        |  WHERE ts[i:i+len(p)-1] = p)
        |SELECT id, pid AS phrase_id, CAST(count(*) AS BIGINT) AS n_occ,
        |       CAST(min(start) AS BIGINT) AS first_pos
        |FROM m GROUP BY id, pid ORDER BY id, phrase_id""".stripMargin,

    // priority = w·2^32/(h+1) replayed in HUGEINT: the q46 8-hex md5
    // uniform, floor keys at 2^64 scale, string-order id tie-break, τ at
    // rank k+1, ŵ = max(w, τ) as exact digit-string ppm
    "q199_priority_sample" ->
      """WITH d AS (
        |  SELECT lang, CAST(doc_id AS VARCHAR) AS id,
        |         CAST(length(text) AS BIGINT) AS w
        |  FROM documents),
        |u AS (
        |  SELECT lang, id, w,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(id), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS BIGINT) AS h
        |  FROM d),
        |kk AS (
        |  SELECT lang, id, w, h,
        |         (w::HUGEINT * 18446744073709551616) // (h::HUGEINT + 1) AS key
        |  FROM u),
        |r AS (
        |  SELECT lang, id, w, h,
        |         row_number() OVER (PARTITION BY lang ORDER BY key DESC, id) AS rn
        |  FROM kk),
        |tau AS (SELECT lang, w AS wt, h AS ht FROM r WHERE rn = 21)
        |SELECT r.lang, r.id, r.w,
        |       CAST(CASE
        |         WHEN tau.wt IS NULL THEN r.w::HUGEINT * 1000000
        |         WHEN r.w::HUGEINT * (tau.ht::HUGEINT + 1)
        |              >= tau.wt::HUGEINT * 4294967296
        |           THEN r.w::HUGEINT * 1000000
        |         ELSE (tau.wt::HUGEINT * 4294967296 * 1000000)
        |              // (tau.ht::HUGEINT + 1)
        |         END AS VARCHAR) AS est_ppm
        |FROM r LEFT JOIN tau ON tau.lang = r.lang
        |WHERE r.rn <= 20
        |ORDER BY r.lang, r.id""".stripMargin,

    // LOO replay: category stats join, (Σy − y)/(n−1) with the global
    // prior for singletons, ppm floors
    "q212_target_encoding" ->
      """WITH d AS (
        |  SELECT doc_id AS id, source AS category,
        |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |st AS (SELECT category, CAST(count(*) AS BIGINT) AS n_cat,
        |              CAST(sum(y) AS BIGINT) AS sum_cat
        |       FROM d GROUP BY category),
        |pr AS (SELECT (1000000 * sum(y)) // count(*) AS prior_ppm FROM d)
        |SELECT d.id, d.category, CAST(d.y AS BIGINT) AS y,
        |       CAST(CASE WHEN n_cat <= 1 THEN prior_ppm
        |            ELSE (1000000 * (sum_cat - d.y)) // (n_cat - 1) END
        |         AS BIGINT) AS enc_ppm
        |FROM d JOIN st USING (category), pr
        |ORDER BY id""".stripMargin,

    // NFC replay via DuckDB's UAX #15 implementation — the decomposed
    // suffix (chr escapes) composes identically in any conformant engine
    "q216_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         substr(text, 1, 40) || ' cafe' || chr(769) || ' A' || chr(778)
        |           || 'ngstro' || chr(776) || 'm' AS raw
        |  FROM documents)
        |SELECT doc_id, CAST(length(raw) AS INT) AS n_raw,
        |       CAST(length(nfc_normalize(raw)) AS INT) AS n_nfc,
        |       nfc_normalize(raw) AS norm
        |FROM d ORDER BY doc_id""".stripMargin,

    // assortativity replay: q100 pair CTE, symmetric degree join, the
    // sqrt-free (M·Σxy − (Σx)²)/(M·Σx² − (Σx)²) identity
    "q220_assortativity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |und AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |sym AS (SELECT a AS u, b AS v FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT u, CAST(count(*) AS HUGEINT) AS d FROM sym GROUP BY u),
        |j AS (
        |  SELECT dx.d AS x, dy.d AS y
        |  FROM sym s JOIN deg dx ON dx.u = s.u JOIN deg dy ON dy.u = s.v),
        |st AS (SELECT CAST(count(*) AS HUGEINT) AS m, sum(x) AS sx,
        |              sum(x * x) AS sxx, sum(x * y) AS sxy FROM j),
        |ds AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |              CAST(max(d) AS BIGINT) AS max_degree,
        |              CAST(sum(d * d) AS BIGINT) AS sum_d2 FROM deg),
        |es AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
        |SELECT n_nodes, n_edges, max_degree, sum_d2,
        |       CAST(CASE WHEN m * sxx - sx * sx = 0 THEN 0
        |            ELSE (1000000 * (m * sxy - sx * sx)) // (m * sxx - sx * sx)
        |            END AS BIGINT) AS assortativity_ppm
        |FROM ds, es, st""".stripMargin,

    // edge-support replay: q100 triangle CTE exploded to its 3 edges,
    // grouped, left-joined back so bridges report 0
    "q221_edge_support" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |tri AS (
        |  SELECT a.x AS x, a.y AS y, b.y AS z
        |  FROM pairs a
        |  JOIN pairs b ON a.y = b.x
        |  JOIN pairs c ON c.x = a.x AND c.y = b.y),
        |te AS (SELECT x AS a, y AS b FROM tri
        |       UNION ALL SELECT x, z FROM tri
        |       UNION ALL SELECT y, z FROM tri),
        |sup AS (SELECT a, b, CAST(count(*) AS BIGINT) AS support
        |        FROM te GROUP BY a, b)
        |SELECT p.x AS a, p.y AS b,
        |       CAST(coalesce(s.support, 0) AS BIGINT) AS support
        |FROM pairs p LEFT JOIN sup s ON s.a = p.x AND s.b = p.y
        |ORDER BY a, b""".stripMargin,

    // modularity replay: the q120 SimHash-pair CTE prefix verbatim, then
    // Newman Q of the lang partition at 4m² scale, signed // toward zero
    "q227_modularity" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |e AS (
        |  SELECT CAST(a.doc_id AS BIGINT) AS ex, CAST(b.doc_id AS BIGINT) AS ey
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT ex AS id FROM e UNION ALL SELECT ey FROM e)
        |        GROUP BY id),
        |lab AS (SELECT CAST(doc_id AS BIGINT) AS id, lang AS label FROM documents),
        |dl AS (SELECT deg.id, lab.label, deg.d FROM deg JOIN lab ON lab.id = deg.id),
        |mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM e),
        |perc AS (SELECT label, CAST(count(*) AS BIGINT) AS n_nodes,
        |                CAST(sum(d) AS HUGEINT) AS d_tot
        |         FROM dl GROUP BY label),
        |ein AS (SELECT a.label, CAST(count(*) AS HUGEINT) AS e_in
        |        FROM e JOIN dl a ON a.id = e.ex
        |               JOIN dl b ON b.id = e.ey AND b.label = a.label
        |        GROUP BY a.label),
        |cells AS (
        |  SELECT p.label, p.n_nodes, coalesce(ein.e_in, 0) AS e_in, p.d_tot,
        |         4 * mm.m * coalesce(ein.e_in, 0) - p.d_tot * p.d_tot AS num
        |  FROM perc p LEFT JOIN ein ON ein.label = p.label, mm),
        |tot AS (SELECT CAST((1000000 * sum(num)) // (4 * mm.m * mm.m) AS BIGINT)
        |          AS modularity_ppm
        |        FROM cells, mm GROUP BY mm.m)
        |SELECT c.label, c.n_nodes, CAST(c.e_in AS BIGINT) AS e_in,
        |       CAST(c.d_tot AS BIGINT) AS d_tot,
        |       CAST((1000000 * c.num) // (4 * mm.m * mm.m) AS BIGINT) AS contrib_ppm,
        |       tot.modularity_ppm
        |FROM cells c, mm, tot ORDER BY c.label""".stripMargin,

    // χ² replay: cell grain, marginal cross join for absent cells, the
    // (o·n − r·c)²/(r·c·n) per-cell floor in ppm
    "q228_chi2_independence" ->
      """WITH cells AS (
        |  SELECT lang AS x, source AS y, CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |rws AS (SELECT x, CAST(sum(o) AS BIGINT) AS r_tot FROM cells GROUP BY x),
        |cls AS (SELECT y, CAST(sum(o) AS BIGINT) AS c_tot FROM cells GROUP BY y),
        |nn AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM cells),
        |full0 AS (
        |  SELECT r.x, c.y, coalesce(cells.o, 0) AS o, r.r_tot, c.c_tot
        |  FROM rws r CROSS JOIN cls c
        |  LEFT JOIN cells ON cells.x = r.x AND cells.y = c.y),
        |contrib AS (
        |  SELECT x, y, o, r_tot, c_tot,
        |         (1000000 * (o::HUGEINT * nn.n - r_tot::HUGEINT * c_tot)
        |                  * (o::HUGEINT * nn.n - r_tot::HUGEINT * c_tot))
        |         // (r_tot::HUGEINT * c_tot * nn.n) AS contrib_ppm
        |  FROM full0, nn),
        |tot AS (
        |  SELECT CAST(sum(contrib_ppm) AS BIGINT) AS chi2_ppm,
        |         CAST((count(DISTINCT x) - 1) * (count(DISTINCT y) - 1) AS BIGINT)
        |           AS dof
        |  FROM contrib)
        |SELECT x, y, o, r_tot, c_tot,
        |       CAST(contrib_ppm AS BIGINT) AS contrib_ppm, chi2_ppm, dof
        |FROM contrib, tot ORDER BY x, y""".stripMargin,

    // conformal replay: rank read-off at k = ceil((n+1)(1−α)) clamped to
    // n, coverage on the held-out half in floored ppm
    "q229_conformal" ->
      """WITH s AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, CAST(length(text) AS BIGINT) AS v
        |  FROM documents),
        |cal AS (SELECT v FROM s WHERE id % 2 = 0),
        |tst AS (SELECT v FROM s WHERE id % 2 = 1),
        |nk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cal,
        |         least(((count(*) + 1) * 9 + 9) // 10, count(*)) AS k,
        |         ((count(*) + 1) * 9 + 9) // 10 AS k_raw
        |  FROM cal),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM cal),
        |q AS (SELECT min(v) AS q_hat FROM r, nk WHERE r.rn >= nk.k),
        |cov AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_test,
        |         CAST(coalesce(sum(CASE WHEN tst.v <= q.q_hat THEN 1 ELSE 0 END), 0)
        |           AS BIGINT) AS n_covered
        |  FROM tst, q)
        |SELECT nk.n_cal, CAST(nk.k AS BIGINT) AS k, q.q_hat,
        |       nk.k_raw <= nk.n_cal AS exact, cov.n_test, cov.n_covered,
        |       CAST(CASE WHEN cov.n_test = 0 THEN 0
        |            ELSE (1000000 * cov.n_covered) // cov.n_test END AS BIGINT)
        |         AS coverage_ppm
        |FROM nk, q, cov""".stripMargin,

    // ESS replay: one aggregate per language, Kish ratios floored in ppm
    "q230_ess" ->
      """WITH d AS (
        |  SELECT lang, greatest(CAST(length(text) AS BIGINT), 1) AS w
        |  FROM documents),
        |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |             CAST(sum(w) AS HUGEINT) AS ws,
        |             CAST(sum(w::HUGEINT * w) AS HUGEINT) AS wss
        |      FROM d GROUP BY lang)
        |SELECT lang, n, CAST(ws AS BIGINT) AS w_sum, CAST(wss AS VARCHAR) AS w_sq_sum,
        |       CAST((1000000 * ws * ws) // wss AS BIGINT) AS ess_ppm,
        |       CAST((1000000 * n::HUGEINT * wss) // (ws * ws) AS BIGINT) AS deff_ppm
        |FROM g ORDER BY lang""".stripMargin,

    // blocking-quality replay: q19 cluster CTE, histogram pair sums
    // Σ s(s−1)/2 for blocks / clusters / contingency cells
    // B³ replay: the q215 cluster CTE (connected components of the exact
    // Jaccard ≥ 0.8 graph), (cluster, lang) cells, the two documented
    // ppm floors (per cell, then the item mean)
    "q238_bcubed" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cl AS (
        |  SELECT d.doc_id AS id,
        |         CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS VARCHAR) AS cl
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id),
        |asg AS (SELECT cl.cl AS c, d.lang AS l
        |        FROM cl JOIN documents d ON d.doc_id = cl.id),
        |cells AS (SELECT c, l, CAST(count(*) AS BIGINT) AS ncl
        |          FROM asg GROUP BY c, l),
        |nc AS (SELECT c, CAST(sum(ncl) AS BIGINT) AS n_c FROM cells GROUP BY c),
        |nl AS (SELECT l, CAST(sum(ncl) AS BIGINT) AS n_l FROM cells GROUP BY l),
        |agg AS (
        |  SELECT CAST(sum(ncl) AS BIGINT) AS n,
        |         CAST(count(DISTINCT cells.c) AS BIGINT) AS n_clusters,
        |         CAST(count(DISTINCT cells.l) AS BIGINT) AS n_labels,
        |         sum((1000000 * ncl::HUGEINT * ncl) // n_c) AS p,
        |         sum((1000000 * ncl::HUGEINT * ncl) // n_l) AS r
        |  FROM cells JOIN nc USING (c) JOIN nl USING (l)),
        |fin AS (
        |  SELECT n, n_clusters, n_labels,
        |         CAST(p // n AS BIGINT) AS p_ppm, CAST(r // n AS BIGINT) AS r_ppm
        |  FROM agg)
        |SELECT n, n_clusters, n_labels, p_ppm, r_ppm,
        |       CAST(CASE WHEN p_ppm + r_ppm = 0 THEN 0
        |            ELSE (2 * p_ppm::HUGEINT * r_ppm) // (p_ppm + r_ppm)
        |            END AS BIGINT) AS f1_ppm
        |FROM fin""".stripMargin,

    // Flesch replay: defined surrogate counts, floored milli-scale score,
    // the standard bands
    "q239_readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
        |           AS BIGINT) AS words,
        |         CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1)
        |           AS BIGINT) AS sentences,
        |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |           AS BIGINT) AS runs
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, words, sentences, greatest(words, runs) AS syllables
        |  FROM b),
        |d AS (
        |  SELECT doc_id, words, sentences, syllables,
        |         CAST(CASE WHEN words = 0 THEN NULL
        |              ELSE 206835 - (1015 * words) // sentences
        |                          - (84600 * syllables) // words
        |              END AS BIGINT) AS flesch_milli
        |  FROM c)
        |SELECT doc_id, words, sentences, syllables, flesch_milli,
        |       CASE WHEN flesch_milli IS NULL THEN 'empty'
        |            WHEN flesch_milli >= 90000 THEN 'very_easy'
        |            WHEN flesch_milli >= 70000 THEN 'easy'
        |            WHEN flesch_milli >= 50000 THEN 'medium'
        |            WHEN flesch_milli >= 30000 THEN 'hard'
        |            ELSE 'very_hard' END AS band
        |FROM d ORDER BY doc_id""".stripMargin,

    "q215_blocking_quality" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cl AS (
        |  SELECT d.doc_id AS id,
        |         CAST(least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS VARCHAR) AS cl
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id),
        |blk AS (SELECT doc_id AS id, substr(text, 1, 16) AS blk FROM documents),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM blk),
        |cp AS (SELECT CAST(coalesce(sum((s * (s - 1)) // 2), 0) AS HUGEINT) AS cand
        |       FROM (SELECT CAST(count(*) AS HUGEINT) AS s FROM blk GROUP BY blk)),
        |tp AS (SELECT CAST(coalesce(sum((s * (s - 1)) // 2), 0) AS HUGEINT) AS truth
        |       FROM (SELECT CAST(count(*) AS HUGEINT) AS s FROM cl GROUP BY cl)),
        |bp AS (SELECT CAST(coalesce(sum((s * (s - 1)) // 2), 0) AS HUGEINT) AS cob
        |       FROM (SELECT CAST(count(*) AS HUGEINT) AS s
        |             FROM blk JOIN cl USING (id) GROUP BY cl, blk))
        |SELECT CAST(n AS BIGINT) AS n,
        |       CAST(truth AS BIGINT) AS truth_pairs,
        |       CAST(cand AS BIGINT) AS cand_pairs,
        |       CAST(cob AS BIGINT) AS coblocked_truth_pairs,
        |       CAST(CASE WHEN truth = 0 THEN 10000
        |            ELSE (10000 * cob) // truth END AS BIGINT) AS completeness_bp,
        |       CAST(CASE WHEN n < 2 THEN 10000
        |            ELSE 10000 - (10000 * cand) // ((n * (n - 1)) // 2) END AS BIGINT)
        |         AS reduction_bp
        |FROM nn, cp, tp, bp""".stripMargin,

    // q100 pair replay → symmetric adjacency → capped wedge join →
    // pair-grouped counts with per-wedge ⌊10⁶/deg⌋ RA weights → anti-join
    // on existing edges; full-graph degrees feed the Jaccard denominator
    "q201_link_prediction" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |und AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |sym AS (SELECT a AS z, b AS v FROM und UNION ALL SELECT b, a FROM und),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY z),
        |ctr AS (SELECT s.z, s.v, deg.d FROM sym s JOIN deg USING (z) WHERE deg.d <= 200),
        |w AS (
        |  SELECT c1.v AS x, c2.v AS y, c1.d AS d
        |  FROM ctr c1 JOIN ctr c2 ON c1.z = c2.z AND c1.v < c2.v),
        |g AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS n_common,
        |         CAST(sum(1000000 // d) AS BIGINT) AS ra_ppm
        |  FROM w GROUP BY x, y),
        |nz AS (
        |  SELECT g.* FROM g
        |  WHERE n_common >= 2
        |    AND NOT EXISTS (SELECT 1 FROM und WHERE und.a = g.x AND und.b = g.y))
        |SELECT nz.x, nz.y, nz.n_common,
        |       CAST((10000 * nz.n_common) // (dx.d + dy.d - nz.n_common) AS BIGINT)
        |         AS jaccard_bp,
        |       nz.ra_ppm
        |FROM nz JOIN deg dx ON dx.z = nz.x JOIN deg dy ON dy.z = nz.y
        |ORDER BY x, y""".stripMargin,

    // greedy k-center unrolled: seed = min id, 7 argmax rounds, distances
    // as index-order folds over the raw embeddings
    "q185_kcenter_coreset" ->
      ("""WITH e AS (
        |  SELECT vec_id AS id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb
        |  FROM embeddings),
        |c1 AS (SELECT id, emb FROM e ORDER BY id LIMIT 1),
        |""" + (2 to 8).map(kcRound).mkString("\n") + """
        |sel AS (
        |  SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, 0.0 AS d2 FROM c1
        |  UNION ALL SELECT 2, id, round(d2, 4) FROM c2
        |  UNION ALL SELECT 3, id, round(d2, 4) FROM c3
        |  UNION ALL SELECT 4, id, round(d2, 4) FROM c4
        |  UNION ALL SELECT 5, id, round(d2, 4) FROM c5
        |  UNION ALL SELECT 6, id, round(d2, 4) FROM c6
        |  UNION ALL SELECT 7, id, round(d2, 4) FROM c7
        |  UNION ALL SELECT 8, id, round(d2, 4) FROM c8)
        |SELECT rank, vec_id, d2 FROM sel ORDER BY rank""").stripMargin,

    // real-codec replay: pixels regenerated from the integer recipe, the
    // 299/587/114 per-mille luminance, cross-multiplied cell-vs-grid mean
    // bits, all-pairs hamming over the 64-bit lists
    "q184_ppm_ahash" ->
      """WITH ids AS (SELECT doc_id AS k FROM documents WHERE doc_id % 5 = 0),
        |med AS (
        |  SELECT k, k AS media_id, 0 AS ed FROM ids
        |  UNION ALL
        |  SELECT k, k + 100000 AS media_id, 1 AS ed FROM ids),
        |px AS (
        |  SELECT m.media_id, x.x, y.y,
        |         CASE WHEN m.ed = 1 AND x.x < 2 AND y.y < 2
        |              THEN ((m.k*7 + x.x*3 + y.y*5) % 256 + 16) % 256
        |              ELSE (m.k*7 + x.x*3 + y.y*5) % 256 END AS r,
        |         (m.k*11 + x.x*13 + y.y*2) % 256 AS g,
        |         (m.k*3 + x.x + y.y*7) % 256 AS b
        |  FROM med m, range(0, 16) x(x), range(0, 16) y(y)),
        |cell AS (
        |  SELECT media_id, (y//2)*8 + (x//2) AS ci,
        |         sum(299*r + 587*g + 114*b) AS cs, count(*) AS cc
        |  FROM px GROUP BY 1, 2),
        |tot AS (SELECT media_id, sum(cs) AS ts FROM cell GROUP BY 1),
        |bits AS (
        |  SELECT c.media_id,
        |         list(CASE WHEN c.cs * 256 > t.ts * c.cc THEN 1 ELSE 0 END
        |              ORDER BY c.ci) AS bv
        |  FROM cell c JOIN tot t USING (media_id) GROUP BY c.media_id),
        |pairs AS (
        |  SELECT a.media_id AS x_id, b.media_id AS y_id,
        |         len(list_filter(range(1, 65), i -> a.bv[i] <> b.bv[i])) AS hamming
        |  FROM bits a JOIN bits b ON a.media_id < b.media_id)
        |SELECT x_id, y_id, CAST(hamming AS BIGINT) AS hamming
        |FROM pairs WHERE hamming <= 3 ORDER BY x_id, y_id""".stripMargin,

    // q19's exact-Jaccard + recursive-CC replay, then the q46 md5-uniform
    // split idiom keyed on the REP instead of the doc
    "q167_leakage_safe_split" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |reps AS (
        |  SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id),
        |u AS (
        |  SELECT doc_id, rep,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(rep AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |           / 4294967296.0 AS u
        |  FROM reps)
        |SELECT doc_id, rep,
        |       CASE WHEN u < CAST(0.8 AS DOUBLE) THEN 'train'
        |            WHEN u < CAST(0.9 AS DOUBLE) THEN 'val'
        |            ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin,

    "q166_pps_sample" ->
      """WITH d AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS w FROM documents),
        |t AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM d),
        |c AS (
        |  SELECT doc_id, w,
        |         CAST(COALESCE(sum(w) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
        |  FROM d),
        |h AS (
        |  SELECT doc_id, w,
        |         CAST((200*(cb+w) + t.tw - 1) // (2*t.tw)
        |           - (200*cb + t.tw - 1) // (2*t.tw) AS BIGINT) AS n_hits
        |  FROM c, t)
        |SELECT doc_id, w AS weight, n_hits FROM h
        |WHERE n_hits >= 1 ORDER BY doc_id""".stripMargin,

    "q163_cdc_changelog" ->
      """WITH olds AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 1 THEN text || ' rev2' ELSE text END AS text,
        |         lang, source
        |  FROM documents WHERE doc_id % 7 <> 3),
        |news AS (
        |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 9 <> 4),
        |o AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |           coalesce('v' || text, chr(0)), coalesce('v' || lang, chr(0)),
        |           coalesce('v' || source, chr(0)))) AS od FROM olds),
        |n AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |           coalesce('v' || text, chr(0)), coalesce('v' || lang, chr(0)),
        |           coalesce('v' || source, chr(0)))) AS nd,
        |         text, lang, source
        |  FROM news),
        |j AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, od, nd,
        |         n.text, n.lang, n.source
        |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT doc_id,
        |       CASE WHEN nd IS NULL THEN 'delete' ELSE 'upsert' END AS op,
        |       text, lang, source
        |FROM j WHERE od IS NULL OR nd IS NULL OR od <> nd
        |ORDER BY doc_id""".stripMargin,

    "q138_lsh_recall_cert" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents WHERE doc_id % 5 = 0),
        |p AS (
        |  SELECT len(list_intersect(a.toks, b.toks)) AS inter,
        |         len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id),
        |e AS (SELECT CAST((10000 * inter) // uni AS BIGINT) AS jacc_bp
        |      FROM p WHERE inter * 1.0 / uni >= 0.8)
        |SELECT jacc_bp - (jacc_bp % 250) AS jacc_band_bp,
        |       CAST(count(*) AS BIGINT) AS n_true,
        |       CAST(count(*) AS BIGINT) AS n_found,
        |       CAST(10000 AS BIGINT) AS recall_bp
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |ham AS (
        |  SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |         len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) AS hamming
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
        |SELECT x_id, y_id, CAST(hamming AS BIGINT) AS hamming
        |FROM ham WHERE hamming <= 3 ORDER BY x_id, y_id""".stripMargin,

    "q45_simjoin_deletion" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |       len(list_intersect(a.toks, b.toks)) AS inter,
        |       len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
        |FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    "q18_simjoin_documents" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents)
        |SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |       len(list_intersect(a.toks, b.toks)) AS inter,
        |       len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
        |FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
        |ORDER BY 1, 2""".stripMargin,

    "q19_dedup_minhash" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT d.doc_id,
        |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q20_dedup_exact" ->
      """SELECT doc_id,
        |       min(doc_id) OVER (PARTITION BY regexp_replace(trim(text), ' +', ' ', 'g')) AS rep
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q26's language replay + distinct-token document frequencies + the
    // per-language rank window.
    "q51_vocab_per_lang" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','zu','ist','ein','nicht'))) AS DOUBLE) / len(toks) AS r_de,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE) / len(toks) AS r_en,
        |    CAST(len(list_filter(toks, x -> x IN ('el','la','de','y','en','es','un','que'))) AS DOUBLE) / len(toks) AS r_es,
        |    CAST(len(list_filter(toks, x -> x IN ('le','la','de','et','en','est','un','que'))) AS DOUBLE) / len(toks) AS r_fr
        |  FROM t),
        |lp AS (
        |  SELECT doc_id,
        |    CASE WHEN r_de >= r_en AND r_de >= r_es AND r_de >= r_fr THEN 'de'
        |         WHEN r_en >= r_es AND r_en >= r_fr THEN 'en'
        |         WHEN r_es >= r_fr THEN 'es'
        |         ELSE 'fr' END AS lang_pred
        |  FROM r),
        |tok AS (
        |  SELECT doc_id, unnest(list_distinct(toks)) AS tok
        |  FROM t WHERE len(toks) > 0),
        |f AS (
        |  SELECT lp.lang_pred, tok.tok, count(*) AS df
        |  FROM tok JOIN lp ON tok.doc_id = lp.doc_id
        |  GROUP BY 1, 2)
        |SELECT lang_pred, tok, df,
        |       row_number() OVER (PARTITION BY lang_pred ORDER BY df DESC, tok) AS rnk
        |FROM f
        |QUALIFY rnk <= 50
        |ORDER BY lang_pred, rnk""".stripMargin,

    // winnowing replay: k=3 shingle hashes (first-8-hex-of-md5 recipe),
    // w=4 window minima, distinct; docs need ≥ k+w−1 = 6 tokens.
    "q52_winnow_fingerprints" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS wd
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         list_transform(range(1, len(wd) - 1), i ->
        |           CAST(list_sum(list_transform(range(0, 8), b ->
        |             CAST(instr('0123456789abcdef',
        |                        substr(md5(array_to_string(wd[i:i+2], ' ')),
        |                               CAST(b + 1 AS INT), 1)) - 1
        |                  AS BIGINT) << CAST(4 * (7 - b) AS INT))) AS BIGINT)) AS hs
        |  FROM t WHERE len(wd) >= 6),
        |sel AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(range(1, len(hs) - 2), i ->
        |           list_min(hs[i:i+3]))) AS fps
        |  FROM s)
        |SELECT doc_id, unnest(fps) AS fp FROM sel ORDER BY doc_id, fp""".stripMargin,

    "q50_containment" ->
      """WITH tok0 AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |tok AS (SELECT * FROM tok0 WHERE len(toks) > 0)
        |SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |       len(list_intersect(a.toks, b.toks)) AS inter,
        |       len(a.toks) AS x_len
        |FROM tok a JOIN tok b ON a.doc_id <> b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) >= ceiling(0.9 * len(a.toks) - 0.0001)
        |ORDER BY 1, 2""".stripMargin,

    "q21_simjoin_ngram" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(
        |           range(1, len(w)),
        |           i -> w[i] || '_' || w[i+1])) AS toks
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS w
        |        FROM documents)
        |  WHERE len(w) >= 2)
        |SELECT a.doc_id AS x_id, b.doc_id AS y_id,
        |       len(list_intersect(a.toks, b.toks)) AS inter,
        |       len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS uni
        |FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |      (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.6
        |ORDER BY 1, 2""".stripMargin,

    // Bloom is a pure pre-filter (no false negatives; survivors
    // exact-verified), so the oracle is the plain exact join at
    // n=4/evalEvery=25 — the Bloom never has to be replayed.
    "q79_bloom_decon" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+3], ' ')
        |                               FOR i IN range(1, len(w) - 2)])) AS gram
        |  FROM t),
        |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 25 = 0),
        |hits AS (
        |  SELECT c.doc_id, c.gram, ev.eval_id
        |  FROM g c JOIN ev ON c.gram = ev.gram
        |  WHERE c.doc_id % 25 <> 0)
        |SELECT doc_id,
        |       count(DISTINCT gram) AS n_hit_grams,
        |       count(DISTINCT eval_id) AS n_eval_docs
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // DSIR replay: bigram occurrences, md5-hex feature buckets (q46's
    // hex→int recipe, mod 1024), +1-smoothed integer floor-division
    // ratios, per-doc ratio sums, md5-tiebroken top-100.
    "q80_dsir_resample" ->
      """WITH t AS (
        |  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source = 'src0' AS is_t,
        |         unnest([array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]) AS gram
        |  FROM t),
        |gb AS (
        |  SELECT doc_id, is_t,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(gram), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (7 - i) AS INT))) % 1024 AS BIGINT) AS b
        |  FROM g),
        |bk AS (
        |  SELECT b,
        |         sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t_cnt,
        |         sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS s_cnt
        |  FROM gb GROUP BY b),
        |r AS (SELECT b, (1000000 * (t_cnt + 1)) // (s_cnt + 1) AS r FROM bk),
        |sc AS (
        |  SELECT doc_id, CAST(sum(r.r) AS BIGINT) AS score, CAST(count(*) AS BIGINT) AS n_grams
        |  FROM gb JOIN r USING (b) WHERE NOT is_t GROUP BY doc_id)
        |SELECT doc_id, score, n_grams,
        |       CAST(row_number() OVER (ORDER BY score DESC, md5(CAST(doc_id AS VARCHAR)), doc_id)
        |            AS INT) AS rk
        |FROM sc QUALIFY rk <= 100 ORDER BY doc_id""".stripMargin,

    // CMS replay: md5('r:tok') cells mod 512, grid counts, min-over-rows
    // estimates, N//100 threshold, exact verify of survivors.
    "q81_cms_heavy_hitters" ->
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM t),
        |c AS (
        |  SELECT tok, r.r AS r,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(r.r AS VARCHAR) || ':' || tok),
        |                             CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (7 - i) AS INT))) % 512 AS BIGINT) AS cell
        |  FROM t, range(0, 4) r(r)),
        |sk AS (SELECT r, cell, count(*) AS cnt FROM c GROUP BY r, cell),
        |est AS (
        |  SELECT c.tok, CAST(min(sk.cnt) AS BIGINT) AS est
        |  FROM (SELECT DISTINCT tok, r, cell FROM c) c
        |  JOIN sk USING (r, cell) GROUP BY c.tok),
        |hh AS (SELECT tok, est FROM est, n WHERE est >= n.n // 100),
        |ex AS (
        |  SELECT t.tok, CAST(count(*) AS BIGINT) AS exact
        |  FROM t JOIN hh USING (tok) GROUP BY t.tok)
        |SELECT hh.tok, hh.est, ex.exact
        |FROM hh JOIN ex USING (tok) ORDER BY tok""".stripMargin,

    // Persisting the index through parquet changes nothing about the
    // values, so the oracle is q44's IVF replay at the q82 parameters
    // (queries 10..19, nProbe 4, k 5).
    "q82_ivf_persist" ->
      """WITH emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb
        |  QUALIFY cell <= 64),
        |asg AS (
        |  SELECT n_id, n_e, cell FROM (
        |    SELECT emb.vec_id AS n_id, emb.e AS n_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |probe AS (
        |  SELECT q_id, q_e, cell FROM (
        |    SELECT emb.vec_id AS q_id, emb.e AS q_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent WHERE emb.vec_id >= 10 AND emb.vec_id < 20) WHERE rn <= 4),
        |scored AS (
        |  SELECT probe.q_id, asg.n_id, list_cosine_similarity(probe.q_e, asg.n_e) AS sim
        |  FROM probe JOIN asg USING (cell)
        |  WHERE asg.n_id <> probe.q_id)
        |SELECT q_id, n_id,
        |       row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, n_id) AS rank,
        |       round(sim, 4) AS sim
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY q_id, rank""".stripMargin,

    // HLL replay: bucket = first-8-hex mod 64, x = second-8-hex, rank =
    // 33 − bit-length (bin() strips leading zeros in both engines).
    "q85_hll_registers" ->
      """WITH t AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT source,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(tok), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (7 - i) AS INT))) % 64 AS BIGINT) AS bucket,
        |         CAST(list_sum(list_transform(range(8, 16), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(tok), CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (15 - i) AS INT))) AS BIGINT) AS x
        |  FROM t),
        |r AS (
        |  SELECT source, bucket,
        |         CASE WHEN x = 0 THEN 33 ELSE CAST(33 - len(bin(x)) AS INT) END AS rank
        |  FROM h)
        |SELECT source, bucket, CAST(max(rank) AS INT) AS maxrank
        |FROM r GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    // collocation replay: unigram/bigram occurrence counts, lift as the
    // SAME single multiply+divide of double-converted integers, round 4.
    "q88_collocations" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |uni AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(w) AS tok FROM t) GROUP BY tok),
        |pairs AS (
        |  SELECT w[i] AS x, w[i + 1] AS y
        |  FROM t, unnest(range(1, greatest(len(w), 1))) r(i)),
        |bi AS (
        |  SELECT x, y, CAST(count(*) AS BIGINT) AS cxy
        |  FROM pairs GROUP BY x, y HAVING count(*) >= 5),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pairs),
        |scored AS (
        |  SELECT x || ' ' || y AS gram, cxy, ux.c AS cx, uy.c AS cy,
        |         round(CAST(cxy AS DOUBLE) * CAST(n.n AS DOUBLE)
        |               / (CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE)), 4) AS lift
        |  FROM bi JOIN uni ux ON bi.x = ux.w JOIN uni uy ON bi.y = uy.w, n)
        |SELECT gram, cxy, cx, cy, lift,
        |       CAST(row_number() OVER (ORDER BY lift DESC, gram) AS INT) AS rk
        |FROM scored QUALIFY rk <= 40 ORDER BY rk""".stripMargin,

    // q43's simhash-pair replay as the edge set + the q19 reach-CTE CC
    // recipe: min reachable id per node.
    "q89_simhash_components" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT d.doc_id,
        |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // brute-force Levenshtein over the distinct vocabulary (small in the
    // oracle; the deletion-neighborhood candidates are the scale path).
    "q96_typo_pairs" ->
      """WITH t AS (
        |  SELECT DISTINCT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents)
        |SELECT a.w AS a, b.w AS b, CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
        |FROM t a JOIN t b ON a.w < b.w
        |WHERE levenshtein(a.w, b.w) <= 2
        |ORDER BY a, b""".stripMargin,

    // A-Priori replay: distinct items per basket, df counts, 30%-of-
    // baskets support on items AND pairs, the single-multiply/divide lift.
    "q98_itemset_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS i
        |  FROM documents),
        |n AS (SELECT count(DISTINCT doc_id) AS nb FROM t),
        |ms AS (SELECT greatest(1, nb * 3 // 10) AS ms, nb FROM n),
        |d AS (SELECT i, count(*) AS df FROM t GROUP BY i),
        |f AS (SELECT d.i, d.df FROM d, ms WHERE d.df >= ms.ms),
        |p AS (
        |  SELECT a.i AS x, b.i AS y, fa.df AS dfx, fb.df AS dfy, count(*) AS cxy
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.i < b.i
        |  JOIN f fa ON a.i = fa.i JOIN f fb ON b.i = fb.i
        |  GROUP BY 1, 2, 3, 4)
        |SELECT x, y, CAST(cxy AS BIGINT) AS cxy,
        |       CAST(dfx AS BIGINT) AS dfx, CAST(dfy AS BIGINT) AS dfy,
        |       round(CAST(cxy AS DOUBLE) * CAST(ms.nb AS DOUBLE)
        |             / (CAST(dfx AS DOUBLE) * CAST(dfy AS DOUBLE)), 4) AS lift
        |FROM p, ms WHERE cxy >= ms.ms ORDER BY x, y""".stripMargin,

    // q43's pair replay as edges + the id-ordered 3-way join (x<y<z by
    // transitivity — each triangle exactly once).
    "q100_triangles" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3)
        |SELECT a.x AS x, a.y AS y, b.y AS z
        |FROM pairs a
        |JOIN pairs b ON a.y = b.x
        |JOIN pairs c ON c.x = a.x AND c.y = b.y
        |ORDER BY x, y, z""".stripMargin,

    // q43 pair replay → symmetric edges → outdegrees → two unrolled
    // integer-PageRank rounds (floor divisions exactly as the engine's).
    "q101_pagerank" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |e AS (SELECT x AS a, y AS b FROM pairs UNION ALL SELECT y, x FROM pairs),
        |od AS (SELECT a AS id, count(*) AS d FROM e GROUP BY a),
        |n AS (SELECT doc_id AS id FROM documents),
        |r0 AS (SELECT id, CAST(1000000000000 AS BIGINT) AS r FROM n),
        |c1 AS (
        |  SELECT e.b AS id, sum(r0.r // od.d) AS s
        |  FROM e JOIN r0 ON e.a = r0.id JOIN od ON e.a = od.id GROUP BY e.b),
        |r1 AS (
        |  SELECT n.id, 150000000000 + (85 * COALESCE(c1.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c1 ON n.id = c1.id),
        |c2 AS (
        |  SELECT e.b AS id, sum(r1.r // od.d) AS s
        |  FROM e JOIN r1 ON e.a = r1.id JOIN od ON e.a = od.id GROUP BY e.b),
        |r2 AS (
        |  SELECT n.id, 150000000000 + (85 * COALESCE(c2.s, 0)) // 100 AS r
        |  FROM n LEFT JOIN c2 ON n.id = c2.id)
        |SELECT id AS doc_id, CAST(r AS BIGINT) AS rank
        |FROM r2 ORDER BY doc_id""".stripMargin,

    // q100's triangle replay exploded per node + degrees + the exact
    // basis-point division.
    "q104_clustering_coeff" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |         unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |  FROM documents),
        |th AS (SELECT doc_id, md5(t) AS m FROM tok),
        |sgn AS (
        |  SELECT doc_id, r.p AS p,
        |         sum(CASE WHEN ((instr('0123456789abcdef', substr(m, (r.p // 4) + 1, 1)) - 1)
        |                        >> (r.p % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, range(0, 64) r(p)
        |  GROUP BY doc_id, r.p),
        |fp AS (
        |  SELECT doc_id, list(CASE WHEN s > 0 THEN 1 ELSE 0 END ORDER BY p) AS bits
        |  FROM sgn GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE len(list_filter(range(1, 65), i -> a.bits[i] <> b.bits[i])) <= 3),
        |deg AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |    SELECT x AS id FROM pairs UNION ALL SELECT y FROM pairs) GROUP BY id),
        |tri AS (
        |  SELECT a.x AS x, a.y AS y, b.y AS z
        |  FROM pairs a JOIN pairs b ON a.y = b.x JOIN pairs c ON c.x = a.x AND c.y = b.y),
        |tpn AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT x AS id FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri)
        |  GROUP BY id)
        |SELECT deg.id AS doc_id, deg.degree,
        |       COALESCE(tpn.n_triangles, 0) AS n_triangles,
        |       CASE WHEN deg.degree < 2 THEN 0
        |            ELSE (10000 * 2 * COALESCE(tpn.n_triangles, 0))
        |                 // (deg.degree * (deg.degree - 1)) END AS cc_bp
        |FROM deg LEFT JOIN tpn ON deg.id = tpn.id
        |ORDER BY doc_id""".stripMargin,

    // token histogram per source → exact Σc² basis-point Simpson index.
    "q105_simpson_diversity" ->
      """WITH t AS (
        |  SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        |  FROM documents),
        |h AS (SELECT source, tok, count(*) AS c FROM t GROUP BY source, tok)
        |SELECT source,
        |       CAST(sum(c) AS BIGINT) AS n,
        |       CAST(count(*) AS BIGINT) AS n_distinct,
        |       CAST(sum(c * c) AS BIGINT) AS sum_sq,
        |       CAST(10000 - (10000 * CAST(sum(c * c) AS BIGINT))
        |                    // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))
        |            AS BIGINT) AS simpson_bp
        |FROM h GROUP BY source ORDER BY source""".stripMargin,

    // q61's keyword recipe at top-50 + the q22 cosine ranking (query =
    // vector 0) + integer RRF fusion.
    "q107_hybrid_retrieval" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf0,
        |    len(list_filter(string_split(text, ' '), x -> x = 'vector')) AS tf1,
        |    len(list_filter(string_split(text, ' '), x -> x = 'window')) AS tf2
        |  FROM documents),
        |st AS (SELECT count(*) AS n,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM tf),
        |sc AS (SELECT doc_id,
        |  CAST(tf0 * (n - df0) + tf1 * (n - df1) + tf2 * (n - df2) AS BIGINT) AS score
        |  FROM tf, st),
        |kw AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |  FROM (SELECT doc_id, score FROM sc WHERE score > 0
        |        ORDER BY score DESC, doc_id LIMIT 50)),
        |e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM embeddings),
        |q AS (SELECT emb AS q_emb FROM e WHERE vec_id = 0),
        |ann AS (
        |  SELECT vec_id AS doc_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rank
        |  FROM (SELECT c.vec_id, list_cosine_similarity(q.q_emb, c.emb) AS sim
        |        FROM e c, q WHERE c.vec_id <> 0 ORDER BY sim DESC, vec_id LIMIT 50)),
        |contrib AS (
        |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM kw
        |  UNION ALL SELECT doc_id, 1000000 // (60 + rank) FROM ann),
        |f AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS rrf, CAST(count(*) AS BIGINT) AS n_lists
        |  FROM contrib GROUP BY doc_id)
        |SELECT doc_id, rrf, n_lists,
        |       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rk
        |FROM f QUALIFY rk <= 10 ORDER BY rk""".stripMargin,

    // ed≤2 clusters via the reach CTE (string domain) + per-cluster
    // most-frequent representative.
    "q109_vocab_canonical" ->
      """WITH RECURSIVE t AS (
        |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |f AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM t GROUP BY w),
        |p AS (
        |  SELECT a.w AS x, b.w AS y FROM f a JOIN f b ON a.w < b.w
        |  WHERE levenshtein(a.w, b.w) <= 2),
        |edges AS (SELECT x AS a, y AS b FROM p UNION SELECT y, x FROM p),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |cl AS (
        |  SELECT f.w, least(f.w, coalesce(min(r.b), f.w)) AS rep
        |  FROM f LEFT JOIN reach r ON r.a = f.w GROUP BY f.w),
        |canon AS (
        |  SELECT rep, w AS canonical FROM (
        |    SELECT cl.rep, f.w,
        |           row_number() OVER (PARTITION BY cl.rep ORDER BY f.freq DESC, f.w) AS rn
        |    FROM cl JOIN f USING (w)) WHERE rn = 1)
        |SELECT cl.w AS word, canon.canonical, f.freq
        |FROM cl JOIN canon USING (rep) JOIN f ON f.w = cl.w
        |ORDER BY word""".stripMargin,

    // bigram/context counts + per-word top-3 + exact basis-point
    // conditionals.
    // shingle inversion + HAVING count + gaps-and-islands, mirrored; the
    // oracle groups by the shingle STRING where the engine groups by its
    // xxhash64 (collisions only merge counts upward — none at this scale)
    "q112_repeated_spans" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(ts[i:i+4], ' ') AS shingle
        |  FROM t, unnest(range(1, greatest(len(ts) - 5 + 2, 1))) r(i)),
        |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
        |rep AS (SELECT doc_id, pos FROM sh JOIN hot USING (shingle)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM rep)
        |SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok,
        |       CAST(count(*) AS BIGINT) AS n_shingles
        |FROM isl GROUP BY doc_id, g ORDER BY doc_id, start_tok""".stripMargin,

    // raw islands can OVERLAP in token coverage (a one-start gap leaves
    // k−2 shared tokens), so the load counts over interval-MERGED spans
    "q113_duplication_load" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(ts[i:i+4], ' ') AS shingle
        |  FROM t, unnest(range(1, greatest(len(ts) - 5 + 2, 1))) r(i)),
        |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
        |rep AS (SELECT doc_id, pos FROM sh JOIN hot USING (shingle)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM rep),
        |spans AS (
        |  SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok
        |  FROM isl GROUP BY doc_id, g),
        |m AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         CASE WHEN start_tok > COALESCE(max(end_tok) OVER (
        |             PARTITION BY doc_id ORDER BY start_tok
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |           THEN 1 ELSE 0 END AS ni
        |  FROM spans),
        |mi AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         sum(ni) OVER (PARTITION BY doc_id ORDER BY start_tok
        |                       ROWS UNBOUNDED PRECEDING) AS isl2
        |  FROM m),
        |ms AS (
        |  SELECT doc_id, min(start_tok) AS start_tok, max(end_tok) AS end_tok
        |  FROM mi GROUP BY doc_id, isl2),
        |load AS (
        |  SELECT doc_id, CAST(sum(end_tok - start_tok + 1) AS BIGINT) AS dup_tokens
        |  FROM ms GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        |       COALESCE(load.dup_tokens, 0) AS dup_tokens,
        |       CASE WHEN len(t.ts) = 0 THEN 0
        |            ELSE (COALESCE(load.dup_tokens, 0) * 10000) // len(t.ts) END
        |         AS dup_share_bp
        |FROM t LEFT JOIN load ON t.doc_id = load.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    // the ACT half mirrored end to end: merged spans → span text →
    // global-first canonical (row_number ≡ the engine's min(struct)) →
    // excise non-canonical occurrences → reassemble by position
    "q114_span_removal" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        |         array_to_string(ts[i:i+4], ' ') AS shingle
        |  FROM t, unnest(range(1, greatest(len(ts) - 5 + 2, 1))) r(i)),
        |hot AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
        |rep AS (SELECT doc_id, pos FROM sh JOIN hot USING (shingle)),
        |isl AS (
        |  SELECT doc_id, pos,
        |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM rep),
        |spans AS (
        |  SELECT doc_id, min(pos) AS start_tok, max(pos) + 4 AS end_tok
        |  FROM isl GROUP BY doc_id, g),
        |m AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         CASE WHEN start_tok > COALESCE(max(end_tok) OVER (
        |             PARTITION BY doc_id ORDER BY start_tok
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |           THEN 1 ELSE 0 END AS ni
        |  FROM spans),
        |mi AS (
        |  SELECT doc_id, start_tok, end_tok,
        |         sum(ni) OVER (PARTITION BY doc_id ORDER BY start_tok
        |                       ROWS UNBOUNDED PRECEDING) AS isl2
        |  FROM m),
        |ms AS (
        |  SELECT doc_id, min(start_tok) AS start_tok, max(end_tok) AS end_tok
        |  FROM mi GROUP BY doc_id, isl2),
        |wt AS (
        |  SELECT ms.doc_id, ms.start_tok, ms.end_tok,
        |         array_to_string(t.ts[ms.start_tok + 1 : ms.end_tok + 1], ' ') AS span_text
        |  FROM ms JOIN t ON ms.doc_id = t.doc_id),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY span_text
        |                               ORDER BY doc_id, start_tok) AS rn
        |  FROM wt),
        |rem AS (SELECT doc_id, start_tok AS rs, end_tok AS re FROM rk WHERE rn > 1),
        |pos AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ts[i] AS tok
        |  FROM t, unnest(range(1, len(ts) + 1)) r(i)),
        |kept AS (
        |  SELECT p.doc_id, p.pos, p.tok FROM pos p
        |  WHERE NOT EXISTS (SELECT 1 FROM rem
        |                    WHERE rem.doc_id = p.doc_id
        |                      AND p.pos BETWEEN rem.rs AND rem.re)),
        |clean AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, COALESCE(clean.clean_text, '') AS clean_text
        |FROM t LEFT JOIN clean ON t.doc_id = clean.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q108_bigram_lm" ->
      """WITH t AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |pairs AS (
        |  SELECT w[i] AS w, w[i + 1] AS next
        |  FROM t, unnest(range(1, greatest(len(w), 1))) r(i)),
        |bi AS (
        |  SELECT w, next, CAST(count(*) AS BIGINT) AS cnt
        |  FROM pairs GROUP BY w, next HAVING count(*) >= 5),
        |ctx AS (SELECT w, CAST(count(*) AS BIGINT) AS ctx FROM pairs GROUP BY w),
        |rk AS (
        |  SELECT bi.w, bi.next, bi.cnt, ctx.ctx,
        |         row_number() OVER (PARTITION BY bi.w ORDER BY bi.cnt DESC, bi.next) AS rk
        |  FROM bi JOIN ctx ON bi.w = ctx.w)
        |SELECT w, next, cnt, ctx, (10000 * cnt) // ctx AS p_bp, CAST(rk AS INT) AS rk
        |FROM rk WHERE rk <= 3 ORDER BY w, rk""".stripMargin,

    // first-doc per token → checkpoint buckets (max-id div recipe) →
    // cumulative window.
    "q106_vocab_growth" ->
      """WITH mx AS (SELECT max(doc_id) AS m FROM documents),
        |w AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+1], ' ')
        |                               FOR i IN range(1, len(w))])) AS tok
        |  FROM w),
        |fs AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok),
        |ck AS (
        |  SELECT first_doc // (mx.m // 10 + 1) AS checkpoint FROM fs, mx),
        |g AS (SELECT checkpoint, CAST(count(*) AS BIGINT) AS new_tokens
        |      FROM ck GROUP BY checkpoint)
        |SELECT checkpoint, new_tokens,
        |       CAST(sum(new_tokens) OVER (ORDER BY checkpoint
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS vocab_size
        |FROM g ORDER BY checkpoint""".stripMargin,

    // 5-gram replay + eval/corpus split + distinct-hit counts.
    "q57_decontamination" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+4], ' ')
        |                               FOR i IN range(1, len(w) - 3)])) AS gram
        |  FROM t),
        |ev AS (SELECT doc_id AS eval_id, gram FROM g WHERE doc_id % 50 = 0),
        |hits AS (
        |  SELECT c.doc_id, c.gram, ev.eval_id
        |  FROM g c JOIN ev ON c.gram = ev.gram
        |  WHERE c.doc_id % 50 <> 0)
        |SELECT doc_id,
        |       count(DISTINCT gram) AS n_hit_grams,
        |       count(DISTINCT eval_id) AS n_eval_docs
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // signal replay: every ratio is ONE division of exact integers,
    // rounded to 4 — the cross-engine-exact recipe q25 established.
    "q58_quality_rules" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |         len(toks) AS n_tok,
        |         len(list_distinct(toks)) AS n_uniq,
        |         list_sum(list_transform(toks, x -> length(x))) AS tot_len,
        |         list_max(list_transform(list_distinct(toks),
        |                                 d -> len(list_filter(toks, x -> x = d)))) AS top_cnt,
        |         [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))] AS g2
        |  FROM t),
        |r AS (
        |  SELECT doc_id, n_tok,
        |         round(CAST(tot_len AS DOUBLE) / n_tok, 4) AS avg_tok_len,
        |         round(CAST(n_uniq AS DOUBLE) / n_tok, 4) AS distinct_frac,
        |         round(CAST(top_cnt AS DOUBLE) / n_tok, 4) AS top_tok_frac,
        |         CASE WHEN len(g2) > 0
        |              THEN round(CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2), 4)
        |              ELSE 0.0 END AS dup_2gram_frac
        |  FROM s),
        |b AS (
        |  SELECT doc_id, n_tok, avg_tok_len, distinct_frac, top_tok_frac, dup_2gram_frac,
        |         CAST(n_tok BETWEEN 30 AND 50000 AS INT) AS r_len,
        |         CAST(avg_tok_len >= 3.0 AND avg_tok_len <= 10.0 AS INT) AS r_wlen,
        |         CAST(distinct_frac >= 0.25 AS INT) AS r_div,
        |         CAST(dup_2gram_frac <= 0.9 AS INT) AS r_rep
        |  FROM r)
        |SELECT doc_id, n_tok AS n_tokens, avg_tok_len, distinct_frac, top_tok_frac,
        |       dup_2gram_frac, r_len, r_wlen, r_div, r_rep,
        |       r_len * r_wlen * r_div * r_rep AS pass
        |FROM b ORDER BY doc_id""".stripMargin,

    // distinct 3-grams per doc → gram df (each doc contributes each gram
    // once, so count(*) is df) → join back → per-doc novelty.
    "q59_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |         unnest(list_distinct([array_to_string(w[i:i+2], ' ')
        |                               FOR i IN range(1, len(w) - 1)])) AS gram
        |  FROM t),
        |f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram),
        |j AS (SELECT g.doc_id, f.df FROM g JOIN f USING (gram))
        |SELECT doc_id, count(*) AS n_grams,
        |       round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novel_frac,
        |       max(df) AS max_df
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // fixture replay + the same sequential count-then-mask battery
    // (regexes restricted to Java/RE2-identical syntax)
    "q60_pii_redact" ->
      """WITH fx AS (
        |  SELECT doc_id, text
        |    || CASE WHEN doc_id % 3 = 0
        |            THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 1
        |            THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |                 || '-' || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    || CASE WHEN doc_id % 5 = 2
        |            THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' ELSE '' END AS t0
        |  FROM documents),
        |s1 AS (SELECT doc_id,
        |  len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM fx),
        |s2 AS (SELECT doc_id, n_email,
        |  len(regexp_extract_all(t1, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS n_phone,
        |  regexp_replace(t1, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') AS t2
        |  FROM s1)
        |SELECT doc_id, n_email, n_phone,
        |  len(regexp_extract_all(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS n_ip,
        |  regexp_replace(t2, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS clean_text
        |FROM s2 ORDER BY doc_id""".stripMargin,

    // per-doc tf per term → one stats row (N, df) → integer score
    // Σ tf·(N−df), positive scores, top-k with id tiebreak
    "q61_keyword_topk" ->
      """WITH tf AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x = 'spark')) AS tf0,
        |    len(list_filter(string_split(text, ' '), x -> x = 'vector')) AS tf1,
        |    len(list_filter(string_split(text, ' '), x -> x = 'window')) AS tf2
        |  FROM documents),
        |st AS (SELECT count(*) AS n,
        |  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2 FROM tf),
        |sc AS (SELECT doc_id,
        |  CAST(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
        |       + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END AS BIGINT) AS n_hit,
        |  CAST(tf0 * (n - df0) + tf1 * (n - df1) + tf2 * (n - df2) AS BIGINT) AS score
        |  FROM tf, st)
        |SELECT doc_id, n_hit, score FROM sc WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,

    // the q46 MD5-uniform replay + per-source rate CASE
    "q62_weighted_mix" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(md5(CAST(doc_id AS VARCHAR)), CAST(i + 1 AS INT), 1)) - 1
        |                AS BIGINT) << CAST(4 * (7 - i) AS INT))) AS DOUBLE)
        |           / 4294967296.0 AS u
        |  FROM documents)
        |SELECT doc_id, source FROM u
        |WHERE u < CASE source WHEN 'src0' THEN CAST(0.9 AS DOUBLE)
        |                      WHEN 'src1' THEN CAST(0.6 AS DOUBLE)
        |                      WHEN 'src2' THEN CAST(0.3 AS DOUBLE)
        |                      ELSE CAST(0.15 AS DOUBLE) END
        |ORDER BY doc_id""".stripMargin,

    // per-stream running token offsets → integer pack spans
    "q63_seq_packing" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS stream,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, stream, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM t)
        |SELECT doc_id, stream, n_tokens, tok_start,
        |  tok_start // 128 AS first_pack,
        |  (tok_start + greatest(n_tokens, 1) - 1) // 128 AS last_pack
        |FROM c ORDER BY doc_id""".stripMargin,

    // 8-token blocks, keep-first by (doc_id, bidx), reassemble in order
    "q64_block_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |bl AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(greatest(ceil(len(tk) / 8.0), 1) AS BIGINT)),
        |                   i -> array_to_string(tk[CAST(i*8+1 AS BIGINT):CAST(i*8+8 AS BIGINT)], ' ')) AS blocks
        |  FROM toks),
        |b AS (SELECT doc_id, unnest(range(0, len(blocks))) AS bidx, unnest(blocks) AS block FROM bl),
        |f AS (SELECT *, min(doc_id) OVER (PARTITION BY block) AS first_id FROM b),
        |f2 AS (SELECT *,
        |  min(CASE WHEN doc_id = first_id THEN bidx END) OVER (PARTITION BY block) AS first_bidx
        |  FROM f),
        |k AS (SELECT doc_id, bidx, block,
        |  CASE WHEN doc_id = first_id AND bidx = first_bidx THEN 1 ELSE 0 END AS keep FROM f2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks, CAST(sum(keep) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN keep = 1 THEN block END, ' ' ORDER BY bidx), '') AS dedup_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // brute-force corpus × eval exact token-set Jaccard ≥ 0.8
    "q65_decon_fuzzy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |ev AS (SELECT doc_id AS eval_id, toks AS e_toks FROM tok WHERE doc_id % 50 = 0),
        |co AS (SELECT doc_id, toks FROM tok WHERE doc_id % 50 <> 0),
        |p AS (
        |  SELECT co.doc_id, ev.eval_id,
        |    CAST(len(list_intersect(co.toks, ev.e_toks)) AS BIGINT) AS inter,
        |    CAST(len(co.toks) + len(ev.e_toks) - len(list_intersect(co.toks, ev.e_toks)) AS BIGINT) AS uni
        |  FROM co, ev)
        |SELECT doc_id, eval_id, inter, uni FROM p
        |WHERE inter >= uni * 0.8
        |ORDER BY doc_id, eval_id""".stripMargin,

    // quantized-grid Lloyd, two unrolled rounds; distance = exact integer
    // numerator / cnt² (single IEEE division), argmin tie-broken by cell
    "q66_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    [CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT) FOR x IN embedding] AS qe
        |  FROM embeddings),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         qe AS s, CAST(1 AS BIGINT) AS cnt
        |  FROM q QUALIFY cell <= 8),
        |a0 AS (SELECT vec_id, qe, cell FROM (
        |  SELECT q.vec_id, q.qe, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> (c.cnt*q.qe[i] - c.s[i]) * (c.cnt*q.qe[i] - c.s[i]))) AS DOUBLE)
        |        / CAST(c.cnt*c.cnt AS DOUBLE), c.cell) AS rn
        |  FROM q, c0 c) WHERE rn = 1),
        |s1 AS (SELECT cell, i, CAST(sum(qe[i]) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
        |       FROM a0, range(1, 65) t(i) GROUP BY cell, i),
        |c1 AS (SELECT cell, list(sv ORDER BY i) AS s, min(cnt) AS cnt FROM s1 GROUP BY cell),
        |a1 AS (SELECT vec_id, qe, cell FROM (
        |  SELECT q.vec_id, q.qe, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> (c.cnt*q.qe[i] - c.s[i]) * (c.cnt*q.qe[i] - c.s[i]))) AS DOUBLE)
        |        / CAST(c.cnt*c.cnt AS DOUBLE), c.cell) AS rn
        |  FROM q, c1 c) WHERE rn = 1),
        |s2 AS (SELECT cell, i, CAST(sum(qe[i]) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
        |       FROM a1, range(1, 65) t(i) GROUP BY cell, i),
        |c2 AS (SELECT cell, list(sv ORDER BY i) AS s, min(cnt) AS cnt FROM s2 GROUP BY cell),
        |a2 AS (SELECT vec_id, cell FROM (
        |  SELECT q.vec_id, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> (c.cnt*q.qe[i] - c.s[i]) * (c.cnt*q.qe[i] - c.s[i]))) AS DOUBLE)
        |        / CAST(c.cnt*c.cnt AS DOUBLE), c.cell) AS rn
        |  FROM q, c2 c) WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
        |       CAST(count(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_n
        |FROM a2 ORDER BY vec_id""".stripMargin,

    // q66's Lloyd replay + the q47 MD5-deterministic per-cell cap
    "q67_cluster_sample" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    [CAST(floor(CAST(x AS DOUBLE) * 1024 + 0.5) AS BIGINT) FOR x IN embedding] AS qe
        |  FROM embeddings),
        |c0 AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         qe AS s, CAST(1 AS BIGINT) AS cnt
        |  FROM q QUALIFY cell <= 8),
        |a0 AS (SELECT vec_id, qe, cell FROM (
        |  SELECT q.vec_id, q.qe, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> (c.cnt*q.qe[i] - c.s[i]) * (c.cnt*q.qe[i] - c.s[i]))) AS DOUBLE)
        |        / CAST(c.cnt*c.cnt AS DOUBLE), c.cell) AS rn
        |  FROM q, c0 c) WHERE rn = 1),
        |s1 AS (SELECT cell, i, CAST(sum(qe[i]) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
        |       FROM a0, range(1, 65) t(i) GROUP BY cell, i),
        |c1 AS (SELECT cell, list(sv ORDER BY i) AS s, min(cnt) AS cnt FROM s1 GROUP BY cell),
        |a1 AS (SELECT vec_id, qe, cell FROM (
        |  SELECT q.vec_id, q.qe, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> (c.cnt*q.qe[i] - c.s[i]) * (c.cnt*q.qe[i] - c.s[i]))) AS DOUBLE)
        |        / CAST(c.cnt*c.cnt AS DOUBLE), c.cell) AS rn
        |  FROM q, c1 c) WHERE rn = 1),
        |s2 AS (SELECT cell, i, CAST(sum(qe[i]) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
        |       FROM a1, range(1, 65) t(i) GROUP BY cell, i),
        |c2 AS (SELECT cell, list(sv ORDER BY i) AS s, min(cnt) AS cnt FROM s2 GROUP BY cell),
        |a2 AS (SELECT vec_id, cell FROM (
        |  SELECT q.vec_id, c.cell,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      CAST(list_sum(list_transform(range(1, 65),
        |        i -> (c.cnt*q.qe[i] - c.s[i]) * (c.cnt*q.qe[i] - c.s[i]))) AS DOUBLE)
        |        / CAST(c.cnt*c.cnt AS DOUBLE), c.cell) AS rn
        |  FROM q, c2 c) WHERE rn = 1)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM a2
        |QUALIFY row_number() OVER (
        |  PARTITION BY cell
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= 40
        |ORDER BY vec_id""".stripMargin,

    // q19's brute-force clusters + longest-member survivor (ties → min id)
    "q68_dedup_keep_best" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        |lab AS (
        |  SELECT d.doc_id,
        |         least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id)
        |SELECT lab.doc_id, lab.rep,
        |  CAST(CASE WHEN row_number() OVER (
        |    PARTITION BY lab.rep ORDER BY d.n_chars DESC, lab.doc_id) = 1
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM lab JOIN documents d ON d.doc_id = lab.doc_id
        |ORDER BY lab.doc_id""".stripMargin,

    // q63's span math exploded per overlapped pack, clipped overlap sums
    "q69_pack_manifest" ->
      """WITH t AS (
        |  SELECT doc_id, doc_id % 8 AS stream,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, stream, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
        |  FROM t),
        |x AS (
        |  SELECT stream, tok_start, n_tokens,
        |    unnest(range(tok_start // 128,
        |                 (tok_start + greatest(n_tokens, 1) - 1) // 128 + 1)) AS pack
        |  FROM c)
        |SELECT stream, pack,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(least(tok_start + n_tokens, (pack + 1) * 128) -
        |           greatest(tok_start, pack * 128)) AS BIGINT) AS fill_tokens
        |FROM x GROUP BY stream, pack
        |ORDER BY stream, pack""".stripMargin,

    // histogram-first exact percentile_disc ranks, integer thresholds
    "q70_length_percentiles" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS v
        |  FROM documents),
        |h AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY source, v),
        |r AS (SELECT source, v,
        |        SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |        SUM(c) OVER (PARTITION BY source) AS n
        |      FROM h)
        |SELECT source, CAST(min(n) AS BIGINT) AS n,
        |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS BIGINT) AS p50,
        |  CAST(min(CASE WHEN cum >= (9*n + 9) // 10 THEN v END) AS BIGINT) AS p90,
        |  CAST(min(CASE WHEN cum >= (99*n + 99) // 100 THEN v END) AS BIGINT) AS p99
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // union of q19's text pairs and q55's same-cell cosine pairs → reach
    "q72_hybrid_dedup" ->
      """WITH RECURSIVE tok AS (
        |  SELECT doc_id,
        |         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS toks
        |  FROM documents),
        |tp AS (
        |  SELECT a.doc_id AS x, b.doc_id AS y
        |  FROM tok a JOIN tok b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.toks, b.toks)) * 1.0 /
        |        (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8),
        |emb AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS e FROM embeddings),
        |cent AS (
        |  SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell,
        |         e AS c_e
        |  FROM emb QUALIFY cell <= 64),
        |asg AS (
        |  SELECT n_id, n_e, cell FROM (
        |    SELECT emb.vec_id AS n_id, emb.e AS n_e, cent.cell,
        |           row_number() OVER (PARTITION BY emb.vec_id
        |                              ORDER BY list_cosine_similarity(emb.e, cent.c_e) DESC, cent.cell) AS rn
        |    FROM emb, cent) WHERE rn = 1),
        |sp AS (
        |  SELECT x.n_id AS x, y.n_id AS y
        |  FROM asg x JOIN asg y ON x.cell = y.cell AND y.n_id < x.n_id
        |   AND list_cosine_similarity(x.n_e, y.n_e) >= 0.985),
        |pairs AS (SELECT x, y FROM tp UNION SELECT x, y FROM sp),
        |edges AS (SELECT x AS a, y AS b FROM pairs UNION SELECT y, x FROM pairs),
        |reach AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT d.doc_id,
        |       least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS rep
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // q70's histogram rank at p10 per source, broadcast floor, keep >= p10
    "q73_adaptive_filter" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |h AS (SELECT source, ntok AS v, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY source, ntok),
        |r AS (SELECT source, v,
        |        SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |        SUM(c) OVER (PARTITION BY source) AS n
        |      FROM h),
        |th AS (SELECT source,
        |         CAST(min(CASE WHEN cum >= (n + 9) // 10 THEN v END) AS BIGINT) AS p10
        |       FROM r GROUP BY source)
        |SELECT t.doc_id, t.source, t.ntok, th.p10
        |FROM t JOIN th ON t.source = th.source
        |WHERE t.ntok >= th.p10
        |ORDER BY t.doc_id""".stripMargin,

    // chunk count in closed form, boundaries by integer window math
    "q74_chunk_overlap" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |n AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS ntok
        |      FROM tk WHERE len(tk) > 0),
        |c AS (SELECT doc_id, tk, ntok,
        |        unnest(range(0, 1 + (greatest(ntok - 64, 0) + 47) // 48)) AS chunk
        |      FROM n)
        |SELECT doc_id, CAST(chunk AS BIGINT) AS chunk,
        |       CAST(chunk * 48 AS BIGINT) AS tok_start,
        |       CAST(least(chunk * 48 + 64, ntok) AS BIGINT) AS tok_end,
        |       CAST(least(chunk * 48 + 64, ntok) - chunk * 48 AS BIGINT) AS n_chunk_tokens,
        |       array_to_string(
        |         tk[CAST(chunk * 48 + 1 AS INT):CAST(least(chunk * 48 + 64, ntok) AS INT)],
        |         ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk""".stripMargin,

    // same fixture, digest compare replayed with DuckDB's md5/concat_ws
    "q75_snapshot_diff" ->
      """WITH oldv AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 5 = 1 THEN text || ' rev2' ELSE text END AS text,
        |         lang, source
        |  FROM documents WHERE doc_id % 7 <> 3),
        |newv AS (SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 9 <> 4),
        |o AS (SELECT doc_id, md5(concat_ws(chr(1),
        |        coalesce('v' || text, chr(0)), coalesce('v' || lang, chr(0)),
        |        coalesce('v' || source, chr(0)))) AS od FROM oldv),
        |n AS (SELECT doc_id, md5(concat_ws(chr(1),
        |        coalesce('v' || text, chr(0)), coalesce('v' || lang, chr(0)),
        |        coalesce('v' || source, chr(0)))) AS nd FROM newv)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN od <> nd THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // shard from the q46 hex-fold of md5(id); pos = rank within shard
    "q76_training_order" ->
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents),
        |s AS (
        |  SELECT doc_id, hx,
        |         CAST(list_sum(list_transform(range(0, 8), i ->
        |           CAST(instr('0123456789abcdef',
        |                      substr(hx, CAST(i + 1 AS INT), 1)) - 1 AS BIGINT)
        |             << CAST(4 * (7 - i) AS INT))) AS BIGINT) % 16 AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT)
        |         AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    // Java-hash buckets via the q40 fold; weight formula replayed inline
    "q77_hash_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        |  FROM documents),
        |hb AS (
        |  SELECT doc_id,
        |         ((list_reduce(
        |             list_prepend(CAST(0 AS BIGINT),
        |               list_transform(string_split_regex(w, ''),
        |                              c -> CAST(unicode(c) AS BIGINT))),
        |             (h, c) -> ((h * 31 + c + 2147483648) % 4294967296 + 4294967296)
        |                         % 4294967296 - 2147483648)
        |           % 256) + 256) % 256 AS b
        |  FROM tok),
        |sc AS (
        |  SELECT doc_id, cls,
        |         SUM(((b * 2654435761 + cls * 40503) % 1001 + 1001) % 1001 - 500) AS score
        |  FROM hb CROSS JOIN (SELECT unnest(range(0, 4)) AS cls) cl
        |  GROUP BY doc_id, cls),
        |best AS (
        |  SELECT doc_id, cls, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, cls) AS rn
        |  FROM sc)
        |SELECT d.doc_id,
        |       CAST(COALESCE(b.cls, 0) AS BIGINT) AS label,
        |       CAST(COALESCE(b.score, 0) AS BIGINT) AS best_score
        |FROM documents d
        |LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // greedy WordPiece replayed as a recursive CTE; the match step is a
    // longest-first CASE chain generated from the SAME vocab Seq the
    // Spark expression uses
    "q78_wordpiece" ->
      s"""WITH RECURSIVE words AS (
        |  SELECT doc_id, wi, tk[wi] AS w FROM (
        |    SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS wi FROM (
        |      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |      FROM documents))),
        |seg AS (
        |  SELECT doc_id, wi, w AS rem, CAST('' AS VARCHAR) AS ps,
        |         CAST(0 AS BIGINT) AS np, 0 AS fail
        |  FROM words
        |  UNION ALL
        |  SELECT doc_id, wi,
        |         CASE WHEN m IS NULL THEN '' ELSE substr(rem, length(m) + 1) END,
        |         CASE WHEN m IS NULL THEN ps
        |              WHEN np = 0 THEN m
        |              ELSE ps || ' ##' || m END,
        |         np + CASE WHEN m IS NULL THEN 0 ELSE 1 END,
        |         CASE WHEN m IS NULL THEN 1 ELSE 0 END
        |  FROM (
        |    SELECT doc_id, wi, rem, ps, np,
        |           CASE WHEN np = 0 THEN ${wpChain(wpStarts)}
        |                ELSE ${wpChain(wpConts)} END AS m
        |    FROM seg WHERE rem <> '' AND fail = 0) st),
        |res AS (
        |  SELECT doc_id, wi,
        |         CASE WHEN fail = 1 THEN CAST(1 AS BIGINT) ELSE np END AS np2,
        |         fail,
        |         CASE WHEN fail = 1 THEN '[UNK]' ELSE ps END AS ps2
        |  FROM seg WHERE rem = ''),
        |agg AS (
        |  SELECT doc_id,
        |         CAST(SUM(np2) AS BIGINT) AS n_pieces,
        |         CAST(SUM(fail) AS BIGINT) AS n_unk,
        |         array_to_string(
        |           list_slice(string_split(string_agg(ps2, ' ' ORDER BY wi), ' '), 1, 6),
        |           ' ') AS head_pieces
        |  FROM res GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(a.n_pieces, 0) AS BIGINT) AS n_pieces,
        |       CAST(COALESCE(a.n_unk, 0) AS BIGINT) AS n_unk,
        |       COALESCE(a.head_pieces, '') AS head_pieces
        |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin)
}
