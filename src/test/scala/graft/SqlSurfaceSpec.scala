package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.functions.{col, floor, when}

import graft.core.Tables
import graft.operators._

/** Guards the registered SQL surface as a whole: the exact name set, a
  * round trip for every table function no other spec or query calls from
  * SQL, and a named arity error for every table function.
  */
class SqlSurfaceSpec extends SparkSpec {
  init()

  private val scalarNames = Seq(
    "java_hash", "luhn_check", "nfc_normalize", "intersect_size", "cosine_sim", "simhash64",
    "lsh_signature", "winnow_select", "minhash_bands", "wordpiece_encode")

  private val tableFunctionNames = Seq(
    "similarity_join", "containment_join", "asof_join", "minhash_dedup", "semantic_dedup",
    "subsequence_match", "decontaminate", "dsir_topk", "pagerank", "interval_overlap",
    "itemset_pairs", "triangles", "clustering_coefficient", "rrf_fusion", "repeated_spans",
    "span_removal", "lm_buckets", "bpe_train", "bpe_encode", "corpus_overlap",
    "label_propagation", "mixture_plan", "temperature_sample", "distinctive_terms", "exact_auc",
    "calibration_buckets", "kcore", "personalized_pagerank", "bfs_hops", "quantize_int8",
    "quantized_ann", "adaptive_salted_join", "edit_distance_join", "retention_cohorts", "funnel",
    "scd2_history", "mad_outliers", "collocations", "hll_registers", "connected_components",
    "decontaminate_bloom", "cms_heavy_hitters", "ann_topk", "range_join", "redact_pii",
    "keyword_topk", "weighted_sample", "pack_sequences", "block_dedup", "decontaminate_fuzzy",
    "exact_quantiles", "hybrid_dedup", "kmeans_assign", "kanon_suppress", "ldiverse_suppress",
    "semantic_decon", "tokenizer_fertility", "lsh_recall", "crosslm_buckets", "hard_negatives",
    "epoch_order", "phash_pairs", "cdc_fingerprint", "iqr_outliers", "phrase_count",
    "event_pattern", "kn_familiarity", "multi_touch", "fs_link", "fs_link_em",
    "leakage_safe_split", "chi_drift", "k_centers", "pps_sample", "constraint_checks",
    "cdc_apply", "cdc_changelog", "ivf_upsert", "mean_pool", "sign_project", "decayed_topk",
    "cohen_kappa", "fd_profile", "ind_profile", "pq_adc", "pareto_front", "percentile_ranks",
    "golden_record", "rfm", "chunk_overlap", "snapshot_diff", "training_order", "rank_eval",
    "frequent_lines", "boilerplate_clean", "preference_pairs", "theilsen_trend",
    "sketch_quantiles", "coec", "dictionary_match", "forget_audit", "interval_union",
    "markov_transitions", "priority_sample", "ams_f2", "link_prediction", "kaplan_meier",
    "cuped", "gini_stump", "mann_whitney", "cusum", "trimmed_mean", "ams_join_size",
    "seq_patterns", "weighted_quantiles", "target_encode_loo", "negative_sample", "lorenz_gini",
    "blocking_quality", "diff_in_diff", "fano_burstiness", "hits_scores", "hits_converged",
    "modularity", "chi2_independence", "conformal_calibrate", "bcubed", "flesch", "sweep_cut",
    "ktruss", "srm_check", "rbo", "smd_balance", "mann_kendall", "benford_audit",
    "effective_sample_size", "assortativity", "edge_support", "bipartite_project",
    "exp_smoothing", "two_proportion_z")

  test("the registered SQL surface is exactly the listed 10 scalar and 141 table functions") {
    assert(scalarNames.size == 10 && tableFunctionNames.size == 141)
    // a fresh session state holds only built-ins plus what the extension
    // injects; graft's own entries carry a graft owner class (luhn_check
    // replaces the built-in of the same name)
    val state = spark.newSession().sessionState
    def graftOwned(infos: Seq[Option[ExpressionInfo]]) =
      infos.flatten.filter(_.getClassName.startsWith("graft.")).map(_.getName).toSet
    val fr = state.functionRegistry
    val tr = state.tableFunctionRegistry
    val scalars = graftOwned(fr.listFunction().map(fr.lookupFunction))
    val tvfs = graftOwned(tr.listFunction().map(tr.lookupFunction))
    assert(scalars == scalarNames.toSet, (scalars -- scalarNames, scalarNames.toSet -- scalars))
    assert(tvfs == tableFunctionNames.toSet,
      (tvfs -- tableFunctionNames, tableFunctionNames.toSet -- tvfs))
  }

  test("a Scala-API operator call keeps the extension's function entry") {
    val s = spark.newSession()
    import s.implicits._
    val id = org.apache.spark.sql.catalyst.FunctionIdentifier("intersect_size")
    val fr = s.sessionState.functionRegistry
    val before = fr.lookupFunction(id).get
    val toks = SimilarityJoin.tokenize(
      Seq((1L, "a b c d e"), (2L, "a b c d e f"), (3L, "x y z")).toDF("id", "text"), "id", "text")
    assert(SimilarityJoin.joinSets(toks, toks, 0.8, selfJoin = true).count() == 1)
    val after = fr.lookupFunction(id).get
    assert(after.getClassName == "graft.functions.ArrayIntersectSize", after.getClassName)
    assert(after.getUsage == before.getUsage && after.getUsage.contains("distinct-element"),
      after.getUsage)
  }

  test("every table function fails a wrong-arity call with an error naming it") {
    for (name <- tableFunctionNames) {
      val e = intercept[Exception](spark.sql(s"SELECT * FROM $name()"))
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
    }
  }

  test("table functions without another SQL caller round-trip to their Scala operators") {
    val ev = Tables(spark, sfSmoke, "events").select(
      col("event_id").as("id"), col("user_id").as("u"), col("event_type").as("et"), col("ts"),
      floor(col("value")).cast("long").as("v"),
      (col("event_id") % 2).as("y"),
      (col("event_id") % 3).as("w"),
      (col("event_id") % 20).as("bucket"),
      (col("event_id") % 50).as("item"),
      (col("event_id") % 10).cast("string").as("blk"),
      (col("event_id") % 25).cast("string").as("cl"),
      (col("user_id") % 4).as("g"),
      when(col("user_id") % 2 === 0, "a").otherwise("b").as("arm"),
      when(col("event_id") % 3 === 0, "pre").otherwise("post").as("period"))
    ev.createOrReplaceTempView("ss_ev")
    val cupedIn = ev.select(col("arm"), col("v").as("x"), (col("v") + col("id") % 5).as("yv"))
    cupedIn.createOrReplaceTempView("ss_cuped")
    // undirected, self-loop free: b - a is 1..4 mod 15 over 15 users
    val edges = ev.select(col("u").as("a"), ((col("u") + col("id") % 4 + 1) % 15).as("b"))
    edges.createOrReplaceTempView("ss_edges")
    val links = edges.select(col("a").as("src"), col("b").as("dst"))
    links.createOrReplaceTempView("ss_links")
    val docs = Tables(spark, sfSmoke, "documents")
    docs.createOrReplaceTempView("ss_docs")
    val subjects = ev.filter(col("u") < 3).select("u")
    subjects.createOrReplaceTempView("ss_subjects")

    val cases: Seq[(String, String, DataFrame)] = Seq(
      ("boilerplate_clean", "'ss_docs', 'doc_id', 'text', 'source', ' ', 400",
        Boilerplate.removeLines(docs, "doc_id", "text", "source", " ", 400L)),
      ("forget_audit", "'ss_subjects', 'u', 'ev:ss_ev:u, docs:ss_docs:doc_id'",
        Forget.audit(subjects, "u", Seq(("ev", ev, "u"), ("docs", docs, "doc_id")))),
      ("link_prediction", "'ss_edges', 1, 100", LinkPrediction.scores(edges, 1, 100)),
      ("kaplan_meier", "'ss_ev', 'g', 'v', 'y'", Survival.kaplanMeier(ev, "g", "v", "y")),
      ("cuped", "'ss_cuped', 'arm', 'x', 'yv'", Cuped.adjust(cupedIn, "arm", "x", "yv")),
      ("gini_stump", "'ss_ev', 'v', 'y'", GiniStump.splits(ev, "v", "y")),
      ("mann_whitney", "'ss_ev', 'arm', 'v', 'a', 'b'",
        MannWhitney.uTest(ev, "arm", "v", "a", "b")),
      ("cusum", "'ss_ev', 'bucket', 'v', 100, 500",
        ChangePoint.cusum(ev, "bucket", "v", 100L, 500L)),
      ("trimmed_mean", "'ss_ev', 'g', 'v', 1000", RobustMean.trimmed(ev, "g", "v", 1000)),
      ("ams_join_size", "'ss_ev', 'u', 'ss_edges', 'a', 8",
        AmsSketch.joinSizeEstimate(AmsSketch.build(ev, "u", 8), AmsSketch.build(edges, "a", 8))),
      ("seq_patterns", "'ss_ev', 'u', 'ts', 'id', 'et', 1",
        SeqPatterns.trigramSurprise(ev, "u", "ts", "id", "et", 1L)),
      ("weighted_quantiles", "'ss_ev', 'g', 'v', 'w'",
        Quantiles.weighted(ev, "g", "v", "w",
          Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L), ("p95", 19L, 20L)))),
      ("target_encode_loo", "'ss_ev', 'id', 'et', 'y'",
        TargetEncoding.leaveOneOut(ev, "id", "et", "y")),
      ("negative_sample", "'ss_ev', 'u', 'item', 50, 3",
        NegativeSampling.sample(ev, "u", "item", 50L, 3)),
      ("lorenz_gini", "'ss_ev', 'u'", Concentration.lorenz(ev, "u")),
      ("blocking_quality", "'ss_ev', 'ss_ev', 'id', 'blk', 'cl'",
        BlockingQuality.report(ev, ev, "id", "blk", "cl")),
      ("diff_in_diff", "'ss_ev', 'arm', 'period', 'v', 'a', 'b', 'pre', 'post'",
        DiffInDiff.estimate(ev, "arm", "period", "v", "a", "b", "pre", "post")),
      ("fano_burstiness", "'ss_ev', 'u', 'bucket'", Burstiness.fano(ev, "u", "bucket")),
      ("hits_scores", "'ss_links', 2", Hits.scores(links, 2)),
      ("assortativity", "'ss_edges'", GraphStats.assortativity(edges)),
      ("edge_support", "'ss_edges'", Triangles.edgeSupport(edges)),
      ("bipartite_project", "'ss_ev', 'u', 'item', 2, 1000",
        BipartiteProject.project(ev, "u", "item", 2L, 1000)),
      ("exp_smoothing", "'ss_ev', 'u', 'bucket', 'v', 2",
        ExpSmoothing.ema(ev, "u", "bucket", "v", 2)),
      ("two_proportion_z", "'ss_ev', 'arm', 'y', 'a', 'b'",
        Proportions.zTest(ev, "arm", "y", "a", "b")))
    assert(cases.size == 24)
    for ((name, args, viaScala) <- cases) {
      val viaSql = spark.sql(s"SELECT * FROM $name($args)")
      assert(viaSql.columns.toSeq == viaScala.columns.toSeq, name)
      assert(viaSql.exceptAll(viaScala).isEmpty && viaScala.exceptAll(viaSql).isEmpty, name)
      assert(!viaSql.isEmpty, s"$name: empty result proves no wiring")
    }
  }
}
