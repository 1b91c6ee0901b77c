package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._
import graft.operators._

/** SparkSessionExtensions entry point: installs graft's engine functions
  * and table functions into every session built with
  * `spark.sql.extensions=graft.GraftExtensions` (or
  * `.withExtensions(new GraftExtensions)`), so SQL users get them without
  * per-session registration — the packaged-library form of the
  * extension mechanism.
  *
  * SQL surface: one declarative table, [[GraftExtensions.scalars]] and
  * [[GraftExtensions.tableFunctions]] — e.g. `java_hash(str)` as a scalar
  * expression and `SELECT * FROM similarity_join('table', 'idCol',
  * 'textCol', tau)`, the set-similarity self-join (SURVEY J12): all pairs
  * with Jaccard ≥ tau over whitespace tokens, columns (x_id, y_id, inter,
  * uni, jacc). Table-function builders are lazy unless their entry says
  * otherwise, so a TVF composes like any relation.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // optimizer tier: plain-Spark `size(array_intersect(a, b))` fuses to
    // the intersect_size kernel (semantics-gated; see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.IntersectSizeRewrite)
    for (f <- GraftExtensions.scalars) ext.injectFunction((f.id, f.info, f.build))
    for (f <- GraftExtensions.tableFunctions)
      ext.injectTableFunction((f.id, f.info, f.build(_).queryExecution.logical))
  }
}

object GraftExtensions {

  /** One call's literal arguments, read by position. A literal of the
    * wrong type fails naming the function and the parameter.
    */
  final class Args(fn: String, params: Seq[String], val exprs: Seq[Expression]) {
    def arity: Int = exprs.length

    private def fail(i: Int, kind: String, got: Any): Nothing =
      throw new IllegalArgumentException(s"$fn: ${params(i)} must be $kind literal, got $got")

    def str(i: Int): String = exprs(i) match {
      case Literal(v: UTF8String, StringType) => v.toString
      case other => fail(i, "a string", other)
    }

    def long(i: Int): Long = exprs(i) match {
      case Literal(v: Byte, _) => v.toLong
      case Literal(v: Short, _) => v.toLong
      case Literal(v: Int, _) => v.toLong
      case Literal(v: Long, _) => v
      case other => fail(i, "an integer", other)
    }

    def int(i: Int): Int = long(i).toInt

    def double(i: Int): Double = exprs(i) match {
      case Literal(v, _) if v != null =>
        try v.toString.toDouble
        catch { case _: NumberFormatException => fail(i, "a numeric", v) }
      case other => fail(i, "a numeric", other)
    }

    def table(i: Int): DataFrame = SparkSession.active.table(str(i))
    def col(i: Int): Column = org.apache.spark.sql.functions.col(str(i))
    def csv(i: Int): Seq[String] = str(i).split(",").map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** One registered function. Its parameter list — or alternative lists,
    * picked by arity — is the only statement of its signature: the usage
    * text `name(p1, …) - description`, the arity check and its message,
    * and the per-argument literal errors all derive from it.
    */
  final case class Fn[T](
      name: String,
      owner: Class[_],
      forms: Seq[Seq[String]],
      description: String,
      builder: Args => T) {
    def id: FunctionIdentifier = FunctionIdentifier(name)

    def info: ExpressionInfo = new ExpressionInfo(
      owner.getName, null, name, s"$name(${forms.head.mkString(", ")}) - $description", "")

    def build(exprs: Seq[Expression]): T = {
      val params = forms.find(_.length == exprs.length).getOrElse(
        throw new IllegalArgumentException(
          s"$name expects ${forms.map(_.mkString("(", ", ", ")")).mkString(" or ")}, got " +
            s"${exprs.length} arguments"))
      builder(new Args(name, params, exprs))
    }
  }

  private def scalar(name: String, owner: Class[_], params: String, description: String)(
      builder: Args => Expression): Fn[Expression] =
    Fn(name, owner, Seq(params.split(", ").toSeq), description, builder)

  /** `or` is an alternative parameter list of another arity. */
  private def tvf(
      name: String,
      owner: Class[_],
      params: String,
      description: String,
      or: String = "")(builder: Args => DataFrame): Fn[DataFrame] =
    Fn(name, owner, Seq(params, or).filter(_.nonEmpty).map(_.split(", ").toSeq), description,
      builder)

  val scalars: Seq[Fn[Expression]] = Seq(
    scalar("java_hash", classOf[JavaStringHash], "str",
      "Java String.hashCode of `str` (reference-compatible signature keys).") { a =>
      JavaStringHash(a.exprs(0))
    },
    scalar("luhn_check", classOf[LuhnCheck], "str",
      "true iff str (spaces/hyphens allowed) is a 13-19-digit run passing the Luhn " +
        "checksum (ISO/IEC 7812).") { a =>
      LuhnCheck(a.exprs(0))
    },
    scalar("nfc_normalize", classOf[NfcNormalize], "str",
      "Unicode NFC canonical composition (UAX #15); no-op fast path for " +
        "already-normalized input.") { a =>
      NfcNormalize(a.exprs(0))
    },
    scalar("intersect_size", classOf[ArrayIntersectSize], "a, b",
      "distinct-element intersection count of two string arrays (similarity-join verify " +
        "kernel).") { a =>
      ArrayIntersectSize(a.exprs(0), a.exprs(1))
    },
    scalar("cosine_sim", classOf[CosineSimilarity], "a, b",
      "fused single-pass cosine similarity of two float arrays (ANN/semantic-dedup " +
        "verify kernel).") { a =>
      CosineSimilarity(a.exprs(0), a.exprs(1))
    },
    scalar("simhash64", classOf[SimHash64], "toks",
      "64-bit SimHash fingerprint of a string array (MD5 token hash, engine-portable).") { a =>
      SimHash64(a.exprs(0))
    },
    scalar("lsh_signature", classOf[LshSignature], "emb, tables, bits",
      "all random-hyperplane LSH bucket ids of a float-array embedding.") { a =>
      LshSignature.builder(a.exprs)
    },
    scalar("winnow_select", classOf[WinnowSelect], "words, k, w",
      "distinct winnowed (w-window-min) k-shingle MD5 fingerprints of a word array.") { a =>
      WinnowSelect.builder(a.exprs)
    },
    scalar("minhash_bands", classOf[MinHashBands], "toks, bands, rowsPerBand",
      "banded MinHash signatures of a string array.") { a =>
      MinHashBands.builder(a.exprs)
    },
    scalar("wordpiece_encode", classOf[WordPieceEncode], "words, starts, continuations",
      "greedy longest-match WordPiece sub-word segmentation of a word array (BERT [UNK] " +
        "contract; vocab as literal arrays).") { a =>
      WordPieceEncode.builder(a.exprs)
    })

  /** Probe-vs-index (R-S) parameters shared by the two-table set joins. */
  private val rsForm = "probeTable, probeId, probeText, indexTable, indexId, indexText"

  private def rsTokens(a: Args): (DataFrame, DataFrame) = (
    SimilarityJoin.tokenize(a.table(0), a.str(1), a.str(2)),
    SimilarityJoin.tokenize(a.table(3), a.str(4), a.str(5)))

  /** `(nodesTable, idCol, edgesTable, aCol, bCol, …)` as (id) nodes and (a, b) edges. */
  private def nodesEdges(a: Args): (DataFrame, DataFrame) = (
    a.table(0).select(a.col(1).as("id")),
    a.table(2).select(a.col(3).as("a"), a.col(4).as("b")))

  val tableFunctions: Seq[Fn[DataFrame]] = Seq(
    tvf("similarity_join", classOf[SimilarityJoin.type], "table, idCol, textCol, tau",
      s"all pairs of rows with token-set Jaccard >= tau; 7-arg form ($rsForm, tau) joins " +
        "two tables.",
      or = s"$rsForm, tau") { a =>
      if (a.arity == 4) {
        SimilarityJoin.prefixSelfJoin(a.table(0), a.str(1), a.str(2), a.double(3))
      } else {
        val (probe, index) = rsTokens(a)
        SimilarityJoin.prefixJoin(probe, index, a.double(6))
      }
    },
    tvf("containment_join", classOf[SimilarityJoin.type], "table, idCol, textCol, gamma",
      s"ordered pairs (x, y) with |x∩y| >= ceil(gamma*|x|) over token sets; 7-arg form " +
        s"($rsForm, gamma) probes one table against another.",
      or = s"$rsForm, gamma") { a =>
      if (a.arity == 4) {
        SimilarityJoin.containmentSelfJoin(a.table(0), a.str(1), a.str(2), a.double(3))
      } else {
        val (probe, index) = rsTokens(a)
        SimilarityJoin.containmentJoin(probe, index, a.double(6))
      }
    },
    tvf("asof_join", classOf[AsOfJoin.type], "left, right, key, timeCol, tiebreak",
      "each left row joined to the LATEST right row of the same key at or before its " +
        "time (left outer; ties to greatest tiebreak).") { a =>
      AsOfJoin.backward(a.table(0), a.table(1), Seq(a.str(2)), a.str(3), a.str(4))
    },
    tvf("minhash_dedup", classOf[Dedup.type], "table, idCol, textCol, tau",
      "every record labeled with its duplicate-cluster representative (MinHash/LSH " +
        "candidates, exact-Jaccard verify, connected components).") { a =>
      // connected-components iterates driver-side, so this TVF computes its
      // cluster labels when the query is ANALYZED (not lazily) — same
      // behavior as calling Dedup.minhashDedup directly
      Dedup.minhashDedup(SimilarityJoin.tokenize(a.table(0), a.str(1), a.str(2)), a.double(3))
    },
    tvf("semantic_dedup", classOf[SimilaritySearch.type], "table, idCol, embCol, tau, nCells",
      "SemDeDup over embeddings: (vid, dup_of) with dup_of = min same-IVF-cell id at " +
        "cosine >= tau (-1 = kept).") { a =>
      val vectors = a.table(0).select(a.col(1).as("vid"), a.col(2).as("emb"))
      SimilaritySearch.semanticDedup(vectors, a.double(3), a.int(4))
    },
    tvf("subsequence_match", classOf[SubsequenceMatch.type],
      "series, query, mode, eps, band, alpha, beta",
      "KV-match subsequence search of the (idx, v) query table in the (idx, v) series " +
        "table; mode in ed/dtw/normed/normdtw; returns (start, d2).") { a =>
      val series = a.table(0)
      // the query window is driver-sized by definition (one probe sequence);
      // phase-1 plan construction needs its values, so it is collected here
      val q = a.table(1).orderBy("idx").select("v").collect().map(_.getDouble(0))
      require(q.nonEmpty, "subsequence_match: query table is empty")
      val index = SubsequenceMatch.meanIndex(series)
      SubsequenceMatch.matchSubsequence(a.str(2), series, index, q, a.double(3), band = a.int(4),
        alpha = a.double(5), beta = a.double(6))
    },
    tvf("decontaminate", classOf[Decontamination.type],
      "corpusTable, idCol, textCol, evalTable, evalId, evalText, n",
      "corpus docs sharing any word n-gram with the (broadcast) eval set: (id, " +
        "n_hit_grams, n_eval_docs).") { a =>
      val n = a.int(6)
      require(n > 0, s"decontaminate: n must be positive, got $n")
      Decontamination.flag(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4), a.str(5), n)
    },
    // the target domain is the rows where `targetBoolCol` is true (callers
    // compute the predicate in a view — a column name keeps the TVF's
    // argument surface literal-only)
    tvf("dsir_topk", classOf[ImportanceResampling.type],
      "table, idCol, textCol, targetBoolCol, n, nBuckets, scale, k",
      "DSIR importance resampling: top-k non-target docs by hashed-n-gram integer " +
        "likelihood ratio toward the target rows. Returns (id, score, n_grams, rk).") { a =>
      ImportanceResampling.resampleTopK(a.table(0), a.str(1), a.str(2), a.col(3), a.int(4),
        a.int(5), a.long(6), a.int(7))
    },
    tvf("pagerank", classOf[PageRank.type], "nodesTable, idCol, edgesTable, aCol, bCol, iters",
      "exact-integer damped PageRank (scale 10^12). Returns (id, rank).") { a =>
      val (nodes, edges) = nodesEdges(a)
      PageRank.ranks(nodes, edges, a.int(5))
    },
    tvf("interval_overlap", classOf[IntervalJoin.type],
      "leftTable, rightTable, keyCol, lStart, lEnd, rStart, rEnd, bucketWidth",
      "same-key rows whose [start,end] intervals intersect (bucketed equi-join, exact " +
        "verify).") { a =>
      IntervalJoin.overlap(a.table(0), a.table(1), Seq(a.str(2)), a.str(3), a.str(4), a.str(5),
        a.str(6), a.long(7))
    },
    tvf("itemset_pairs", classOf[Itemsets.type], "table, basketCol, itemCol, minSupport",
      "frequent co-occurring item pairs with lift (A-Priori pruned).") { a =>
      Itemsets.frequentPairs(a.table(0), a.str(1), a.str(2), a.long(3))
    },
    tvf("triangles", classOf[Triangles.type], "edgesTable, aCol, bCol",
      "exact triangle enumeration of the undirected edge set as (x, y, z), x < y < z.") { a =>
      Triangles.enumerate(a.table(0).select(a.col(1).as("a"), a.col(2).as("b")))
    },
    tvf("clustering_coefficient", classOf[Triangles.type], "edgesTable, aCol, bCol",
      "per-node local clustering coefficient in basis points: (id, degree, n_triangles, " +
        "cc_bp).") { a =>
      Triangles.clusteringCoefficient(a.table(0).select(a.col(1).as("a"), a.col(2).as("b")))
    },
    tvf("rrf_fusion", classOf[Fusion.type], "tablesCsv, idCol, rankCol, kConst, scale, topK",
      "reciprocal-rank fusion of ranked lists: top-k ids by summed scale div (kConst + " +
        "rank).") { a =>
      val tables = a.csv(0)
      require(tables.nonEmpty, "rrf_fusion needs at least one ranking table")
      Fusion.rrf(tables.map(SparkSession.active.table), a.str(1), a.str(2), a.long(3), a.long(4),
        a.int(5))
    },
    tvf("repeated_spans", classOf[SubstringDedup.type], "table, idCol, textCol, k, minCount",
      "maximal token spans covered by k-token shingles repeating >= minCount times " +
        "corpus-wide.") { a =>
      SubstringDedup.repeatedSpans(a.table(0), a.str(1), a.str(2), a.int(3), a.long(4))
    },
    tvf("span_removal", classOf[SubstringDedup.type], "table, idCol, textCol, k, minCount",
      "excise every non-canonical occurrence of each repeated span; (doc_id, clean_text).") { a =>
      SubstringDedup.removeRepeatedSpans(a.table(0), a.str(1), a.str(2), a.int(3), a.long(4))
    },
    tvf("lm_buckets", classOf[LmScore.type], "table, idCol, textCol, minCount",
      "CCNet-style head/middle/tail familiarity buckets under the corpus's own bigram LM " +
        "(exact basis points).") { a =>
      LmScore.familiarityBuckets(a.table(0), a.str(1), a.str(2), a.long(3))
    },
    tvf("bpe_train", classOf[BpeTrain.type], "table, textCol, nMerges",
      "learned BPE merge table (step, lhs, rhs, pair_cnt, corpus_symbols) from " +
        "distributed pair counting.") { a =>
      BpeTrain.learnTable(SparkSession.active, a.table(0), a.str(1), a.int(2))
    },
    tvf("bpe_encode", classOf[BpeTrain.type], "table, idCol, textCol, nMerges",
      "per-row BPE symbol counts (id, n_words, n_bpe) after training nMerges merges on " +
        "the same table.") { a =>
      val docs = a.table(0)
      val textCol = a.str(2)
      BpeTrain.encode(docs, a.str(1), textCol, BpeTrain.learn(docs, textCol, a.int(3)))
    },
    tvf("corpus_overlap", classOf[CorpusOverlap.type], "table, groupCol, textCol, k",
      "cross-group distinct-k-shingle overlap matrix with Jaccard/containment basis points.") { a =>
      CorpusOverlap.overlapMatrix(a.table(0), a.str(1), a.str(2), a.int(3))
    },
    tvf("label_propagation", classOf[LabelPropagation.type],
      "nodesTable, idCol, edgesTable, aCol, bCol, iters",
      "synchronous plurality label propagation communities (deterministic min-label " +
        "tie-break).") { a =>
      val (nodes, edges) = nodesEdges(a)
      LabelPropagation.propagate(nodes, edges, a.int(5))
    },
    tvf("mixture_plan", classOf[Sampling.type], "table, strataCol, totalN",
      "temperature (alpha=1/2) mixture quotas: exact isqrt weights, floor quotas capped " +
        "at stratum size.") { a =>
      Sampling.mixturePlan(a.table(0), a.str(1), a.long(2))
    },
    tvf("temperature_sample", classOf[Sampling.type], "table, strataCol, idCol, totalN",
      "materialize the mixture_plan quotas by MD5-prefix selection per stratum.") { a =>
      Sampling.temperatureSample(a.table(0), a.str(1), a.str(2), a.long(3))
    },
    tvf("distinctive_terms", classOf[Keyness.type], "table, groupCol, textCol, minCount, k",
      "top-k tokens per group by exact integer lift (keyness).") { a =>
      Keyness.distinctiveTerms(a.table(0), a.str(1), a.str(2), a.long(3), a.int(4))
    },
    tvf("exact_auc", classOf[ModelEval.type], "table, scoreCol, labelCol",
      "exact Mann-Whitney AUC of an integer score vs a 0/1 label (histogram + recursive " +
        "prefix, never pairs).") { a =>
      ModelEval.exactAuc(a.table(0), a.str(1), a.str(2))
    },
    tvf("calibration_buckets", classOf[ModelEval.type], "table, scoreCol, labelCol, nBuckets",
      "equi-width score bands with exact basis-point positive rates.") { a =>
      ModelEval.calibrationBuckets(a.table(0), a.str(1), a.str(2), a.int(3))
    },
    tvf("kcore", classOf[KCore.type], "nodesTable, idCol, edgesTable, aCol, bCol, k, rounds",
      "survivors of `rounds` synchronous k-peels with their final degree.") { a =>
      val (nodes, edges) = nodesEdges(a)
      KCore.core(nodes, edges, a.int(5), a.int(6))
    },
    tvf("personalized_pagerank", classOf[PageRank.type],
      "nodesTable, idCol, edgesTable, aCol, bCol, sourcesTable, srcIdCol, iters",
      "exact-integer PPR with restart mass on the source set.") { a =>
      val (nodes, edges) = nodesEdges(a)
      PageRank.personalizedRanks(nodes, edges, a.table(5).select(a.col(6).as("id")), a.int(7))
    },
    tvf("bfs_hops", classOf[Reachability.type],
      "nodesTable, idCol, edgesTable, aCol, bCol, sourceId, rounds",
      "bounded-hop BFS distances from a source; -1 beyond the horizon.") { a =>
      val (nodes, edges) = nodesEdges(a)
      Reachability.hopDistances(nodes, edges, a.long(5), a.int(6))
    },
    tvf("quantize_int8", classOf[SimilaritySearch.type], "table, idCol, embCol",
      "symmetric int8 embedding quantization: (id, scale, codes array<int>), bit-exact " +
        "cross-engine.") { a =>
      SimilaritySearch.quantizeInt8(a.table(0), a.str(1), a.str(2))
    },
    tvf("quantized_ann", classOf[SimilaritySearch.type], "table, idCol, embCol, maxQueryId, k",
      "top-k cosine over int8-quantized vectors (queries = id < maxQueryId), integer " +
        "numerators.") { a =>
      val id = a.col(1)
      val codes = SimilaritySearch.quantizeInt8(a.table(0), a.str(1), a.str(2))
      SimilaritySearch.quantizedTopK(
        codes.filter(id < a.long(3)).select(id.as("q_id"), col("codes").as("q_codes")),
        codes.select(id.as("n_id"), col("codes").as("n_codes")),
        a.int(4))
    },
    tvf("adaptive_salted_join", classOf[Salting.type],
      "probeTable, buildTable, key, threshold, maxSalts",
      "inner equi-join with per-key skew salting from the probe's measured key histogram.") { a =>
      val probe = a.table(0)
      val key = a.str(2)
      Salting.adaptiveSaltedJoin(probe, a.table(1), key,
        Salting.hotKeyFactors(probe, key, a.long(3), a.int(4)))
    },
    tvf("edit_distance_join", classOf[EditDistanceJoin.type], "table, wordCol, k",
      "pairs of distinct values within Levenshtein distance k (FastSS deletion " +
        "neighborhoods).") { a =>
      EditDistanceJoin.selfJoin(a.table(0), a.str(1), a.int(2))
    },
    tvf("retention_cohorts", classOf[Cohorts.type],
      "table, userCol, tsCol, granularity, offsetDays",
      "(cohort, offset, n_users, cohort_size, retention_bp) retention triangle from raw " +
        "events.") { a =>
      Cohorts.retention(a.table(0), a.str(1), a.str(2), a.str(3), a.int(4))
    },
    tvf("funnel", classOf[Funnel.type], "table, userCol, tsUsCol, typeCol, stepsCsv, windowUs",
      "earliest ordered completion of the comma-separated steps per user within windowUs " +
        "of step 1.") { a =>
      Funnel.analyze(a.table(0), a.str(1), a.str(2), a.str(3), a.csv(4), a.long(5))
    },
    tvf("scd2_history", classOf[Scd.type], "table, keyCol, tsUsCol, tiebreakCol, attrsCsv",
      "type-2 validity intervals per effective change of the comma-separated attributes " +
        "(-1 = open).") { a =>
      Scd.type2History(a.table(0), a.str(1), a.str(2), a.str(3), a.csv(4))
    },
    tvf("mad_outliers", classOf[Anomaly.type], "table, groupCol, valueCol, k",
      "rows with |value - group median| > k * group MAD (exact integer decisions).") { a =>
      Anomaly.madOutliers(a.table(0), a.str(1), a.str(2), a.long(3))
    },
    tvf("collocations", classOf[Collocations.type], "table, idCol, textCol, minCount, k",
      "top-k word bigrams by PMI lift with min-support filtering.") { a =>
      Collocations.topByLift(a.table(0), a.str(1), a.str(2), a.long(3), a.int(4))
    },
    tvf("hll_registers", classOf[Hll.type], "table, itemCol, p, groupColOrEmpty",
      "HLL distinct-count registers (bucket, maxrank), optionally per group.") { a =>
      val group = a.str(3)
      Hll.registers(a.table(0), a.str(1), a.int(2), if (group.isEmpty) Seq.empty else Seq(group))
    },
    tvf("connected_components", classOf[Dedup.type], "nodesTable, idCol, edgesTable, aCol, bCol",
      "label every node with the minimum id reachable through the undirected edge set. " +
        "Returns (id, rep).") { a =>
      val (nodes, edges) = nodesEdges(a)
      Dedup.connectedComponents(nodes, edges)
    },
    // the shuffle-verify regime (broadcastJoin=false), since the broadcast
    // regime is what plain `decontaminate` plans
    tvf("decontaminate_bloom", classOf[Decontamination.type],
      "corpusTable, idCol, textCol, evalTable, evalId, evalText, n, fpp",
      "same result as decontaminate, with a Bloom bitset pruning the corpus grams ahead " +
        "of a shuffle verify join (the eval-set-too-big-to-broadcast regime).") { a =>
      val n = a.int(6)
      require(n > 0, s"decontaminate_bloom: n must be positive, got $n")
      Decontamination.flagBloom(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4), a.str(5), n,
        fpp = a.double(7), broadcastJoin = false)
    },
    tvf("cms_heavy_hitters", classOf[CountMin.type], "table, itemCol, depth, width, threshold",
      "count-min-sketch heavy hitters over item occurrences, survivors exact-verified. " +
        "Returns (item, est, exact).") { a =>
      CountMin.heavyHitters(a.table(0), a.str(1), a.int(2), a.int(3), lit(a.long(4)))
    },
    // the ANN family behind one SQL entry point: `method` picks the scale
    // path — 'brute' (exact baseline), 'lsh' (random-hyperplane buckets),
    // 'ivf' (inverted-file cells) — with the operators' default recall
    // parameters; the Scala API exposes the tuning knobs
    tvf("ann_topk", classOf[SimilaritySearch.type],
      "queryTable, qId, qEmb, corpusTable, nId, nEmb, k, method",
      "per-query cosine top-k over an embedding corpus; method in brute/lsh/ivf. Returns " +
        "(q_id, n_id, rank, sim).") { a =>
      val queries = a.table(0).select(a.col(1).as("q_id"), a.col(2).as("q_emb"))
      val corpus = a.table(3).select(a.col(4).as("n_id"), a.col(5).as("n_emb"))
      val k = a.int(6)
      require(k > 0, s"ann_topk: k must be positive, got $k")
      a.str(7) match {
        case "brute" => SimilaritySearch.bruteForceTopK(queries, corpus, k)
        case "lsh" => SimilaritySearch.lshTopK(queries, corpus, k)
        case "ivf" => SimilaritySearch.ivfTopK(queries, corpus, k)
        case other =>
          throw new IllegalArgumentException(
            s"ann_topk: method must be one of brute/lsh/ivf, got '$other'")
      }
    },
    tvf("range_join", classOf[RangeJoin.type], "left, right, key, lTime, rTime, lower, upper",
      "pairs of same-key rows with rTime - lTime in [lower, upper] (long domain).") { a =>
      RangeJoin.timeRange(a.table(0), a.table(1), Seq(a.str(2)), a.str(3), a.str(4), a.long(5),
        a.long(6))
    },
    tvf("redact_pii", classOf[TextAnalysis.type], "table, idCol, textCol",
      "count + mask the default PII battery (email, phone, IPv4) in sequence: (id, " +
        "n_email, n_phone, n_ip, clean_text).") { a =>
      TextAnalysis.redactPii(a.table(0), a.str(1), a.str(2))
    },
    tvf("keyword_topk", classOf[KeywordSearch.type], "table, idCol, textCol, termsCsv, k",
      "k best docs by the integer-exact relevance sum tf*(N-df) over the comma-separated " +
        "terms: (id, n_hit, score).") { a =>
      val terms = a.csv(3)
      require(terms.nonEmpty, "keyword_topk: termsCsv has no terms")
      KeywordSearch.topK(a.table(0), a.str(1), a.str(2), terms, a.int(4))
    },
    tvf("weighted_sample", classOf[Sampling.type], "table, idCol, strataCol, ratesCsv, defaultRate",
      "deterministic per-stratum downsampling by MD5-uniform; ratesCsv like " +
        "'src0:0.9,src1:0.6'.") { a =>
      val rates = a.csv(3).map { kv =>
        kv.split(":") match {
          case Array(k, v) => k.trim -> v.trim.toDouble
          case _ => throw new IllegalArgumentException(
            s"weighted_sample: ratesCsv entries must be 'stratum:rate', got '$kv'")
        }
      }
      Sampling.weightedSample(a.table(0), a.str(1), a.str(2), rates, a.double(4))
    },
    tvf("pack_sequences", classOf[Packing.type], "table, idCol, textCol, budget, nStreams",
      "concat-and-chunk sequence packing into budget-token context windows over " +
        "id-sharded streams: (id, stream, n_tokens, tok_start, first_pack, last_pack).") { a =>
      Packing.packSpans(a.table(0), a.str(1), a.str(2), a.long(3), a.int(4))
    },
    tvf("block_dedup", classOf[BlockDedup.type], "table, idCol, textCol, blockWords",
      "remove every repeated blockWords-token block except its globally first " +
        "occurrence: (id, n_blocks, n_kept, dedup_text).") { a =>
      BlockDedup.dedup(a.table(0), a.str(1), a.str(2), a.int(3))
    },
    tvf("decontaminate_fuzzy", classOf[Decontamination.type],
      "corpusTable, idCol, textCol, evalTable, evalId, evalText, tau",
      "(corpus doc, eval doc) pairs with token-set Jaccard >= tau via broadcast MinHash " +
        "candidates + exact verify: (id, eval_id, inter, uni).") { a =>
      Decontamination.flagFuzzy(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4), a.str(5),
        a.double(6))
    },
    tvf("exact_quantiles", classOf[Quantiles.type], "table, groupCol, valueCol, qsCsv",
      "exact percentile_disc quantiles per group, histogram-first; qsCsv like " +
        "'p50:1/2,p90:9/10': (group, n, <one column per quantile>).") { a =>
      val qs = a.csv(3).map { entry =>
        entry.split("[:/]") match {
          case Array(name, num, den) => (name.trim, num.trim.toLong, den.trim.toLong)
          case _ => throw new IllegalArgumentException(
            s"exact_quantiles: qsCsv entries must be 'name:num/den', got '$entry'")
        }
      }
      Quantiles.exactQuantiles(a.table(0), a.str(1), a.str(2), qs)
    },
    tvf("hybrid_dedup", classOf[Dedup.type],
      "docsTable, idCol, textCol, embTable, embId, embCol, tauText, tauSem",
      "duplicate clusters over the union of token-Jaccard and same-IVF-cell cosine " +
        "evidence: (sid, rep).") { a =>
      val tokens = SimilarityJoin.tokenize(a.table(0), a.str(1), a.str(2))
      val vectors = a.table(3).select(a.col(4).as("vid"), a.col(5).as("emb"))
      Dedup.hybridDedup(tokens, vectors, a.double(6), a.double(7))
    },
    tvf("kmeans_assign", classOf[Clustering.type], "table, idCol, embCol, k, iters",
      "Lloyd k-means over an embedding column on the exact integer grid: (vid, cell, " +
        "cell_n).") { a =>
      Clustering.kmeansAssign(a.table(0).select(a.col(1).as("vid"), a.col(2).as("emb")), a.int(3),
        a.int(4))
    },
    tvf("kanon_suppress", classOf[KAnonymity.type], "table, qiCsv, k",
      "k-anonymity release: quasi-identifier combinations covering < k rows are " +
        "suppressed to NULL; every row ships its anonymity-set size as qi_n.") { a =>
      val qi = a.csv(1)
      require(qi.nonEmpty, "kanon_suppress: qiCsv named no columns")
      KAnonymity.suppress(a.table(0), qi, a.long(2))
    },
    tvf("ldiverse_suppress", classOf[KAnonymity.type], "table, qiCsv, sensCol, k, l",
      "distinct-l-diversity release: QI combos need >= k rows AND >= l distinct " +
        "sensitive values; rows ship qi_n and qi_nsens.") { a =>
      val qi = a.csv(1)
      require(qi.nonEmpty, "ldiverse_suppress: qiCsv named no columns")
      KAnonymity.suppressDiverse(a.table(0), qi, a.str(2), a.long(3), a.long(4))
    },
    tvf("semantic_decon", classOf[Decontamination.type],
      "corpusTable, idCol, embCol, evalTable, evalId, evalEmb, tau, nCells",
      "embedding-cosine decontamination; nCells = 0 broadcasts the eval set (exact), " +
        "nCells > 0 uses the IVF-cell scale path: (id, n_eval_hits, eval_id).") { a =>
      val (corpus, eval) = (a.table(0), a.table(3))
      val nCells = a.int(7)
      if (nCells == 0) {
        Decontamination.flagSemantic(corpus, a.str(1), a.str(2), eval, a.str(4), a.str(5),
          a.double(6))
      } else {
        Decontamination.flagSemanticCells(corpus, a.str(1), a.str(2), eval, a.str(4), a.str(5),
          a.double(6), nCells)
      }
    },
    tvf("tokenizer_fertility", classOf[BpeTrain.type], "table, idCol, textCol, strataCol, nMerges",
      "trains nMerges BPE merges on the corpus and reports per-stratum tokens/word + " +
        "chars/token in exact basis points: (strata, n_docs, n_words, n_bpe, n_chars, " +
        "fertility_bp, chars_per_tok_bp).") { a =>
      val docs = a.table(0)
      val textCol = a.str(2)
      val merges = BpeTrain.learn(docs, textCol, a.int(4))
      BpeTrain.fertility(docs, a.str(1), textCol, a.str(3), merges)
    },
    tvf("lsh_recall", classOf[Dedup.type], "table, idCol, textCol, tau, bands, rowsPerBand, bandBp",
      "MinHash-LSH recall certificate vs the exact segment join, per Jaccard band: " +
        "(jacc_band_bp, n_true, n_found, recall_bp).") { a =>
      val toks = SimilarityJoin.tokenize(a.table(0), a.str(1), a.str(2))
      Dedup.lshRecallCertificate(toks, a.double(3), a.int(4), a.int(5), a.int(6),
        maxQuadBucket = Int.MaxValue)
    },
    tvf("crosslm_buckets", classOf[LmScore.type],
      "table, idCol, textCol, refTable, refTextCol, minCount",
      "head/middle/tail partition under a bigram LM trained on the REFERENCE table " +
        "(CCNet shape): (id, n_bigrams, n_oov, score_bp, bucket).") { a =>
      LmScore.familiarityBucketsAgainst(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4),
        a.long(5))
    },
    tvf("hard_negatives", classOf[SimilaritySearch.type],
      "queryTable, qId, qEmb, corpusTable, nId, nEmb, k, tauDup",
      "per-anchor top-k most-similar corpus vectors below the duplicate threshold: " +
        "(q_id, n_id, rank, sim).") { a =>
      SimilaritySearch.hardNegatives(
        a.table(0).select(a.col(1).as("q_id"), a.col(2).as("q_emb")),
        a.table(3).select(a.col(4).as("n_id"), a.col(5).as("n_emb")),
        a.int(6), a.double(7))
    },
    tvf("epoch_order", classOf[Packing.type], "table, idCol, nShards, epoch",
      "deterministic per-epoch reader shard/order layout from md5(id || ':' || epoch): " +
        "(id, epoch, shard, pos).") { a =>
      Packing.epochOrder(a.table(0), a.str(1), a.int(2), a.int(3))
    },
    tvf("phash_pairs", classOf[Multimodal.type], "mediaTable, idCol, payloadCol, maxHamming",
      "near-duplicate media pairs by 64-bit perceptual-hash fingerprints (md5 " +
        "block-parity stub) via the block-pigeonhole join: (x_id, y_id, hamming).") { a =>
      Multimodal.phashPairs(
        a.table(0).select(a.col(1).as("media_id"), a.col(2).as("payload")), a.int(3))
    },
    tvf("cdc_fingerprint", classOf[Multimodal.type], "mediaTable, idCol, payloadCol, w",
      "content-defined-chunking fingerprint (length-robust: insert/delete flips O(1) " +
        "bits via boundary realignment): (media_id, fp).") { a =>
      Multimodal.cdcFingerprint(
        a.table(0).select(a.col(1).as("media_id"), a.col(2).as("payload")), a.int(3))
    },
    tvf("iqr_outliers", classOf[Anomaly.type], "table, groupCol, valueCol, kNum, kDen",
      "Tukey boxplot fences per group (exact percentile_disc quartiles, pure-integer " +
        "decisions): rows outside Q1 - k*IQR / Q3 + k*IQR.") { a =>
      Anomaly.iqrOutliers(a.table(0), a.str(1), a.str(2), a.long(3), a.long(4))
    },
    tvf("phrase_count", classOf[KeywordSearch.type], "table, idCol, textCol, phrase",
      "exact-phrase occurrences per document (overlapping counted) of the space-separated " +
        "phrase: (id, n_occ, first_pos).") { a =>
      KeywordSearch.phraseCount(a.table(0), a.str(1), a.str(2),
        a.str(3).split(" ").filter(_.nonEmpty).toSeq)
    },
    tvf("event_pattern", classOf[EventPattern.type],
      "table, keyCol, tsCol, idCol, typeCol, symbolsSpec, pattern",
      "MATCH_RECOGNIZE-lite: regex over per-key event-symbol sequences; symbolsSpec like " +
        "'view:v,click:c'. Output (key, seq, n_events, n_matches, first_match).") { a =>
      val symbols = a.csv(5).map { s =>
        val Array(ty, sym) = s.split(":", 2)
        ty.trim -> sym.trim
      }.toMap
      EventPattern.matchPattern(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4), symbols,
        a.str(6))
    },
    tvf("kn_familiarity", classOf[LmScore.type],
      "docsTable, idCol, textCol, trainTable, trainTextCol",
      "interpolated Kneser-Ney (d=3/4) bigram familiarity in exact fixed point: (id, " +
        "n_bigrams, n_backoff, score_bp).") { a =>
      LmScore.knFamiliarity(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4))
    },
    tvf("multi_touch", classOf[Attribution.type],
      "table, userCol, tsUsCol, idCol, typeCol, touchTypesCsv, convType, windowUs, model",
      "multi-touch attribution ('linear' | 'u') in exact basis points; each touch " +
        "credits the next conversion within the window.") { a =>
      Attribution.multiTouch(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4), a.csv(5),
        a.str(6), a.long(7), a.str(8))
    },
    tvf("fs_link", classOf[RecordLinkage.type],
      "aTable, bTable, idA, idB, labeledTable, candidatesTable, attrsCsv, thetaNum",
      "Fellegi-Sunter record linkage: exact integer m/u likelihood-ratio scores over " +
        "candidate pairs; labeled/candidates tables carry (x_id, y_id).") { a =>
      val (ta, tb, idA, idB, attrs) = (a.table(0), a.table(1), a.str(2), a.str(3), a.csv(6))
      val weights = RecordLinkage.fsWeights(ta, tb, idA, idB, a.table(4), attrs)
      RecordLinkage.scorePairs(ta, tb, idA, idB, attrs, a.table(5), weights, thetaNum = a.long(7))
    },
    tvf("fs_link_em", classOf[RecordLinkage.type],
      "aTable, bTable, idA, idB, candidatesTable, attrsCsv, thetaNum, iters",
      "unsupervised Fellegi-Sunter: m/u fitted by fixed-point-integer EM over the " +
        "candidate agreement-pattern histogram (no labeled sample), then exact " +
        "likelihood-ratio scores.") { a =>
      val (ta, tb, idA, idB, attrs) = (a.table(0), a.table(1), a.str(2), a.str(3), a.csv(5))
      val cands = a.table(4)
      val weights = RecordLinkage.fsWeightsEm(ta, tb, idA, idB, cands, attrs, iters = a.int(7))
      RecordLinkage.scorePairs(ta, tb, idA, idB, attrs, cands, weights, thetaNum = a.long(6))
    },
    tvf("leakage_safe_split", classOf[Sampling.type],
      "table, idCol, clustersTable, clusterIdCol, repCol, splitsSpec",
      "split keyed on the dup-cluster representative: near-duplicates never straddle " +
        "splits; splitsSpec like 'train:0.8|val:0.1|test:0.1'.") { a =>
      val splits = a.str(5).split("\\|").map(_.trim).filter(_.nonEmpty).map { s =>
        val Array(name, frac) = s.split(":", 2)
        name.trim -> frac.trim.toDouble
      }.toSeq
      Sampling.leakageSafeSplit(a.table(0), a.str(1), a.table(2), a.str(3), a.str(4), splits)
    },
    tvf("chi_drift", classOf[Drift.type], "refTable, curTable, bucketCol",
      "per-bucket distribution drift between two snapshots: chi-square-shaped divergence " +
        "on exact basis-point shares (integer math; the engine-portable PSI stand-in).") { a =>
      Drift.chiDrift(a.table(0), a.table(1), a.str(2))
    },
    tvf("k_centers", classOf[Coreset.type], "table, idCol, embCol, k",
      "diversity-maximizing coreset: greedy k-center (farthest-point traversal) over an " +
        "embedding column; (rank, id, d2) in selection order, d2 = squared distance to the " +
        "nearest prior center.") { a =>
      Coreset.kCenters(a.table(0), a.str(1), a.str(2), a.int(3))
    },
    tvf("pps_sample", classOf[Sampling.type], "table, idCol, weightCol, k",
      "PPS systematic sampling: k draws with inclusion probability exactly proportional " +
        "to the integer weight; (idCol, weight, n_hits), sum(n_hits) = k.") { a =>
      Sampling.ppsSystematic(a.table(0), a.str(1), a.str(2), a.int(3))
    },
    tvf("constraint_checks", classOf[Constraints.type], "table, spec",
      "Deequ-shaped data-quality suite; spec is ';'-separated checks: complete:col:bp | " +
        "in_range:col:lo:hi:bp | in_set:col:v1|v2:bp | regex:col:re:bp (no ':' in re) | " +
        "row_count:lo:hi | unique:col:bp | fk:col:refTable:refCol. Output (check, target, " +
        "metric_bp, threshold_bp, pass).") { a =>
      import Constraints._
      val checks = a.str(1).split(";").map(_.trim).filter(_.nonEmpty).map { s =>
        (s.split(":", -1).map(_.trim).toSeq match {
          case Seq("complete", c, bp)          => Complete(c, bp.toLong)
          case Seq("in_range", c, lo, hi, bp)  => InRange(c, lo.toLong, hi.toLong, bp.toLong)
          case Seq("in_set", c, vs, bp)        => InSet(c, vs.split("\\|").toSeq, bp.toLong)
          case Seq("regex", c, re, bp)         => MatchesRegex(c, re, bp.toLong)
          case Seq("row_count", lo, hi)        => RowCount(lo.toLong, hi.toLong)
          case Seq("unique", c, bp)            => Unique(c, bp.toLong)
          case Seq("fk", c, ref, rc)           => ForeignKey(c, SparkSession.active.table(ref), rc)
          case _ =>
            throw new IllegalArgumentException(s"constraint_checks: unparseable check '$s'")
        }): Check
      }.toSeq
      Constraints.validate(a.table(0), checks)
    },
    tvf("cdc_apply", classOf[Cdc.type],
      "baseTable, changesTable, keyCol, seqCol, opCol, valueColsCsv",
      "lakehouse MERGE: apply a keyed upsert/delete changelog (max-seq winner per key) " +
        "to a base snapshot: (keyCol, valueCols...).") { a =>
      Cdc.applyChangelog(a.table(0), a.table(1), a.str(2), a.str(3), a.str(4), a.csv(5))
    },
    tvf("cdc_changelog", classOf[Cdc.type], "oldTable, newTable, keyCol, valueColsCsv",
      "minimal changelog between two snapshots: (keyCol, op, valueCols...) with op in " +
        "{upsert, delete}; unchanged keys absent.") { a =>
      Cdc.changelog(a.table(0), a.table(1), a.str(2), a.csv(3))
    },
    tvf("ivf_upsert", classOf[SimilaritySearch.type], "centroidsTable, addsTable, idCol, embCol",
      "assign an increment to an existing IVF index's frozen centroids (the no-rebuild " +
        "index maintenance path): (n_id, n_emb, cell).") { a =>
      SimilaritySearch.upsertIvfIndex(a.table(0),
        a.table(1).select(a.col(2).as("n_id"), a.col(3).as("n_emb")))
    },
    tvf("mean_pool", classOf[SimilaritySearch.type], "table, gidCol, embCol, scaleBits",
      "order-invariant chunk-to-document embedding mean on the 2^scaleBits fixed-point " +
        "grid: (gid, dim, n_chunks, pooled_q).") { a =>
      SimilaritySearch.meanPoolQuantized(
        a.table(0).select(a.col(1).as("gid"), a.col(2).as("emb")), a.int(3))
    },
    tvf("sign_project", classOf[SimilaritySearch.type],
      "table, idCol, embCol, dim, outDims, scaleBits",
      "Johnson-Lindenstrauss Rademacher projection to outDims integer coordinates on the " +
        "2^scaleBits grid: (id, proj).") { a =>
      SimilaritySearch.signProject(a.table(0), a.str(1), a.str(2), a.int(3), a.int(4), a.int(5))
    },
    tvf("decayed_topk", classOf[Decay.type],
      "table, keyCol, tsSecCol, asOfSec, genSecs, horizon, k",
      "k hottest keys by exact-integer exponential time decay (weight 2^(horizon-age) " +
        "per genSecs generation): (key, n_window, decayed, rank).") { a =>
      Decay.decayedTopK(a.table(0), Seq(a.str(1)), a.str(2), a.long(3), a.long(4), a.int(5),
        a.int(6))
    },
    tvf("cohen_kappa", classOf[ModelEval.type], "table, raterACol, raterBCol",
      "chance-corrected inter-annotator agreement in exact basis points: one row (n, " +
        "n_agree, po_bp, pe_bp, kappa_bp).") { a =>
      ModelEval.cohenKappa(a.table(0), a.str(1), a.str(2))
    },
    tvf("fd_profile", classOf[Profiling.type], "table, colsCsv",
      "functional-dependency audit over every ordered column pair: (a, b, n_lhs, " +
        "n_pairs, holds, violations). One scan, no per-pair rescans.") { a =>
      Profiling.functionalDependencies(a.table(0), a.csv(1))
    },
    tvf("ind_profile", classOf[Profiling.type], "sourcesCsv",
      "inclusion-dependency (FK) discovery over 'table:column' sources: (a, b, " +
        "n_lhs_values, n_missing, holds). Single value-grouped pass, no per-pair EXCEPT " +
        "joins.") { a =>
      val sources = a.csv(0).map { entry =>
        entry.split(":") match {
          case Array(tbl, c) =>
            (s"${tbl.trim}.${c.trim}", SparkSession.active.table(tbl.trim), c.trim)
          case _ => throw new IllegalArgumentException(
            s"ind_profile: sources must be 'table:column', got '$entry'")
        }
      }
      Profiling.inclusionDependencies(sources)
    },
    tvf("pq_adc", classOf[Pq.type],
      "queries, qIdCol, qEmbCol, corpus, idCol, embCol, dim, m, ks, iters, k",
      "product-quantization ADC top-k: integer-centroid codebooks trained inline, (q_id, " +
        "n_id, rank, d2).") { a =>
      val corpus = a.table(3).select(a.col(4).as("vid"), a.col(5).as("emb"))
      val dim = a.int(6)
      val m = a.int(7)
      val books = Pq.trainCodebooks(corpus, dim, m, a.int(8), a.int(9))
      val codes = Pq.encode(corpus, books, dim, m)
      Pq.adcTopK(a.table(0).select(a.col(1).as("q_id"), a.col(2).as("q_emb")), books, codes,
        a.int(10), dim, m)
    },
    tvf("pareto_front", classOf[Skyline.type], "table, idCol, dimsCsv",
      "distributed skyline: rows no other row dominates on ALL (maximizing) dims; " +
        "two-phase bucket-local fronts, no n-squared theta-join.") { a =>
      val dims = a.csv(2)
      require(dims.nonEmpty, "pareto_front: dimsCsv named no columns")
      Skyline.paretoFront(a.table(0), a.str(1), dims)
    },
    tvf("percentile_ranks", classOf[Quantiles.type], "table, groupCol, valueCol",
      "per-group cume_dist of every distinct value in exact basis points, via histogram " +
        "+ recursive prefix sum: (group, value, n_rows, cum_le, pct_bp).") { a =>
      Quantiles.percentileRanks(a.table(0), a.str(1), a.str(2))
    },
    tvf("golden_record", classOf[Survivorship.type],
      "table, clusterCol, idCol, longestCsv, maxCsv, modeCsv",
      "per-cluster survivorship merge under deterministic rules (longest / max / " +
        "count-desc-value-asc mode); empty CSVs allowed.") { a =>
      Survivorship.goldenRecord(a.table(0), a.str(1), a.str(2), longestCols = a.csv(3),
        maxCols = a.csv(4), modeCols = a.csv(5))
    },
    tvf("rfm", classOf[Cohorts.type], "table, userCol, tsSecCol, centsCol, asOfSec",
      "recency/frequency/monetary per user with exact population quintiles: (user, " +
        "r_days, f, m_cents, r_q, f_q, m_q).") { a =>
      Cohorts.rfm(a.table(0), a.str(1), a.str(2), a.str(3), a.long(4))
    },
    tvf("chunk_overlap", classOf[Chunking.type], "table, idCol, textCol, width, stride",
      "overlapping width-token chunks stepping by stride per document: (id, chunk, " +
        "tok_start, tok_end, n_chunk_tokens, chunk_text).") { a =>
      Chunking.chunkSpans(a.table(0), a.str(1), a.str(2), a.long(3), a.long(4))
    },
    tvf("snapshot_diff", classOf[SnapshotDiff.type], "oldTable, newTable, idCol, contentCol",
      "CDC classification per id: (id, status in added|removed|changed|unchanged) via " +
        "digest-first full-outer join.") { a =>
      SnapshotDiff.diff(a.table(0), a.table(1), a.str(2), Seq(a.str(3)))
    },
    tvf("training_order", classOf[Packing.type], "table, idCol, nShards",
      "deterministic MD5-ordered loader layout: (id, shard, pos).") { a =>
      val shards = a.long(2)
      require(shards > 0 && shards <= Int.MaxValue,
        s"training_order: nShards must be a positive int, got $shards")
      Packing.trainingOrder(a.table(0), a.str(1), shards.toInt)
    },
    tvf("rank_eval", classOf[RankEval.type], "runTable, qrelsTable, qCol, dCol, rankCol, k",
      "trec_eval-shaped per-query retrieval metrics at cutoff k: (q, n_rel, n_rel_ret, " +
        "first_rel_rank, rr_ppm, recall_bp, precision_bp, hit).") { a =>
      val k = a.long(5)
      require(k >= 1 && k <= Int.MaxValue, s"rank_eval: k must be a positive int, got $k")
      RankEval.perQuery(a.table(0), a.table(1), a.str(2), a.str(3), a.str(4), k.toInt)
    },
    tvf("frequent_lines", classOf[Boilerplate.type],
      "table, idCol, textCol, sourceCol, delim, minDocs",
      "C4-style template inventory: lines appearing in >= minDocs distinct docs of the " +
        "same source: (source, line, n_docs).") { a =>
      Boilerplate.frequentLines(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4), a.long(5))
    },
    tvf("boilerplate_clean", classOf[Boilerplate.type],
      "table, idCol, textCol, sourceCol, delim, minDocs",
      "remove frequent-line boilerplate and reassemble docs: (id, n_lines, n_removed, " +
        "text_clean).") { a =>
      Boilerplate.removeLines(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4), a.long(5))
    },
    tvf("preference_pairs", classOf[PreferencePairs.type],
      "table, groupCol, idCol, scoreCol, minMargin",
      "best-vs-worst candidate per group with deterministic ties, margin-floored: (g, " +
        "n_candidates, chosen_id, chosen_score, rejected_id, rejected_score, margin).") { a =>
      PreferencePairs.pairs(a.table(0), a.str(1), a.str(2), a.str(3), a.long(4))
    },
    tvf("theilsen_trend", classOf[TheilSen.type], "table, keyCol, xCol, yCol",
      "Theil-Sen median slope per key over integer points, exact rational ordering: (k, " +
        "n_points, n_pairs, slope_num, slope_den, slope_ppm).") { a =>
      TheilSen.medianSlope(a.table(0), a.str(1), a.str(2), a.str(3))
    },
    tvf("sketch_quantiles", classOf[QuantileSketch.type],
      "table, groupCol, idCol, valueCol, k, qsSpec",
      "quantile estimates from the deterministic mergeable bottom-k-by-md5 sample: " +
        "(group, q_num, q_den, n_sample, est); qsSpec like 'num:den,...'.") { a =>
      val k = a.long(4)
      require(k >= 1 && k <= Int.MaxValue, s"sketch_quantiles: k must be a positive int, got $k")
      val qs = a.csv(5).map { s =>
        val parts = s.split(":")
        require(parts.length == 2,
          s"sketch_quantiles: quantile spec entries must be num:den, got '$s'")
        (parts(0).trim.toLong, parts(1).trim.toLong)
      }
      val sketch = QuantileSketch.build(a.table(0), Seq(a.str(1)), a.str(2), a.str(3), k.toInt)
      QuantileSketch.quantiles(sketch, Seq(a.str(1)), qs)
    },
    tvf("coec", classOf[ClickModels.type], "table, itemCol, positionCol, clickedCol",
      "clicks over expected clicks: position-bias-corrected CTR per item in exact basis " +
        "points: (item, n_imp, n_clicks, expected_ppm, coec_bp).") { a =>
      ClickModels.coec(a.table(0), a.str(1), a.str(2), a.str(3))
    },
    tvf("dictionary_match", classOf[KeywordSearch.type],
      "docsTable, idCol, textCol, dictTable, phraseIdCol, phraseCol",
      "gazetteer tagging: every dictionary phrase vs every doc in one pass, rarest-token " +
        "anchors + exact slice verify: (id, phrase_id, n_occ, first_pos).") { a =>
      KeywordSearch.dictionaryMatch(a.table(0), a.str(1), a.str(2), a.table(3), a.str(4), a.str(5))
    },
    tvf("forget_audit", classOf[Forget.type], "subjectsTable, subjectCol, tablesSpec",
      "GDPR deletion-cascade audit: per table (table, n_before, n_removed, n_after) in " +
        "one pass each; tablesSpec like 'name1:table1:key1,name2:table2:key2'.") { a =>
      val tables = a.csv(2).map { s =>
        val parts = s.split(":")
        require(parts.length == 3,
          s"forget_audit: table spec entries must be name:table:key, got '$s'")
        (parts(0).trim, SparkSession.active.table(parts(1).trim), parts(2).trim)
      }
      Forget.audit(a.table(0), a.str(1), tables)
    },
    tvf("interval_union", classOf[Intervals.type], "table, keyCol, startCol, endCol",
      "gaps-and-islands interval-union measure per key: (k, n_intervals, n_islands, " +
        "covered, max_gap).") { a =>
      Intervals.unionLength(a.table(0), a.str(1), a.str(2), a.str(3))
    },
    tvf("markov_transitions", classOf[Transitions.type],
      "table, keyCol, tsCol, tiebreakCol, stateCol",
      "first-order transition table over keyed event sequences: (state, next, n, p_bp).") { a =>
      Transitions.matrix(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4))
    },
    tvf("priority_sample", classOf[PrioritySample.type], "table, groupCol, idCol, wCol, k",
      "Duffield-Lund-Thorup priority sample per group with unbiased subset-sum " +
        "estimates: (group, id, w, est_ppm).") { a =>
      val k = a.long(4)
      require(k >= 1 && k <= Int.MaxValue, s"priority_sample: k must be a positive int, got $k")
      val g = Seq(a.str(1))
      PrioritySample.estimates(PrioritySample.sketch(a.table(0), g, a.str(2), a.str(3), k.toInt),
        g, k.toInt)
    },
    tvf("ams_f2", classOf[AmsSketch.type], "table, keyCol, s",
      "AMS tug-of-war sketch counters for the second frequency moment / self-join size: " +
        "(r, counter).") { a =>
      val s = a.long(2)
      require(s >= 1 && s <= 64, s"ams_f2: s must be in [1, 64], got $s")
      AmsSketch.build(a.table(0), a.str(1), s.toInt)
    },
    tvf("link_prediction", classOf[LinkPrediction.type], "table, minCommon, maxCenterDegree",
      "neighborhood-overlap link prediction over undirected edges (a, b): (x, y, " +
        "n_common, jaccard_bp, ra_ppm) for non-adjacent pairs.") { a =>
      val minCommon = a.long(1)
      val cap = a.long(2)
      require(minCommon >= 1 && minCommon <= Int.MaxValue,
        s"link_prediction: minCommon must be a positive int, got $minCommon")
      require(cap >= 2 && cap <= Int.MaxValue,
        s"link_prediction: maxCenterDegree must be an int >= 2, got $cap")
      LinkPrediction.scores(a.table(0), minCommon.toInt, cap.toInt)
    },
    tvf("kaplan_meier", classOf[Survival.type], "table, groupCol, durationCol, eventCol",
      "Kaplan-Meier survival curve per group in exact ppm: (g, t, n_risk, n_events, s_ppm).") { a =>
      Survival.kaplanMeier(a.table(0), a.str(1), a.str(2), a.str(3))
    },
    tvf("cuped", classOf[Cuped.type], "table, armCol, xCol, yCol",
      "CUPED variance reduction from sufficient statistics: (arm, n, theta_ppm, " +
        "mean_y_ppm, mean_ycup_ppm, varred_bp).") { a =>
      Cuped.adjust(a.table(0), a.str(1), a.str(2), a.str(3))
    },
    tvf("gini_stump", classOf[GiniStump.type], "table, featureCol, labelCol",
      "exact CART decision-stump split scan: (v, n_left, pos_left, gini_ppm) per " +
        "candidate threshold.") { a =>
      GiniStump.splits(a.table(0), a.str(1), a.str(2))
    },
    tvf("mann_whitney", classOf[MannWhitney.type], "table, sampleCol, valueCol, aLabel, bLabel",
      "exact tie-corrected Mann-Whitney U rank-sum test: (n_a, n_b, u2_a, u2_b, " +
        "cles_ppm, var12s).") { a =>
      MannWhitney.uTest(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4))
    },
    tvf("cusum", classOf[ChangePoint.type], "table, bucketCol, valueCol, ref, h",
      "one-sided CUSUM change-point statistic per bucket via distributed prefix scans: " +
        "(t, x, cusum, alarm).") { a =>
      ChangePoint.cusum(a.table(0), a.str(1), a.str(2), a.long(3), a.long(4))
    },
    tvf("trimmed_mean", classOf[RobustMean.type], "table, groupCol, valueCol, trimBp",
      "exact trimmed/winsorized/plain means per group in ppm: (g, n, cut, " +
        "trimmed_mean_ppm, winsor_mean_ppm, mean_ppm).") { a =>
      val bp = a.long(3)
      require(bp >= 0 && bp < 5000, s"trimmed_mean: trimBp must be in [0, 5000), got $bp")
      RobustMean.trimmed(a.table(0), a.str(1), a.str(2), bp.toInt)
    },
    tvf("ams_join_size", classOf[AmsSketch.type], "tableA, keyA, tableB, keyB, s",
      "AGMS equi-join size estimate from two tug-of-war sketches: (s, join_size_est).") { a =>
      val s = a.long(4)
      require(s >= 1 && s <= 32, s"ams_join_size: s must be in [1, 32], got $s")
      AmsSketch.joinSizeEstimate(AmsSketch.build(a.table(0), a.str(1), s.toInt),
        AmsSketch.build(a.table(2), a.str(3), s.toInt))
    },
    tvf("seq_patterns", classOf[SeqPatterns.type],
      "table, keyCol, tsCol, tiebreakCol, stateCol, minSupport",
      "sequential trigram mining with Markov-surprise: (a, b, c, n, users, surprise_bp).") { a =>
      val sup = a.long(5)
      require(sup >= 1, s"seq_patterns: minSupport must be >= 1, got $sup")
      SeqPatterns.trigramSurprise(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4), sup)
    },
    tvf("weighted_quantiles", classOf[Quantiles.type], "table, groupCol, valueCol, weightCol",
      "exact weighted p25/p50/p75/p95 per group from the weight-summed value grain: " +
        "(group, w_total, p25, p50, p75, p95).") { a =>
      Quantiles.weighted(a.table(0), a.str(1), a.str(2), a.str(3),
        Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L), ("p95", 19L, 20L)))
    },
    tvf("target_encode_loo", classOf[TargetEncoding.type], "table, idCol, categoryCol, labelCol",
      "leave-one-out target encoding in ppm with global-prior fallback: (id, category, " +
        "y, enc_ppm).") { a =>
      TargetEncoding.leaveOneOut(a.table(0), a.str(1), a.str(2), a.str(3))
    },
    tvf("negative_sample", classOf[NegativeSampling.type], "table, userCol, itemCol, numItems, k",
      "deterministic md5 hash-draw negatives per user from a dense item space: (user, " +
        "item, draw).") { a =>
      val k = a.long(4)
      require(k >= 1 && k <= Int.MaxValue, s"negative_sample: k must be a positive int, got $k")
      NegativeSampling.sample(a.table(0), a.str(1), a.str(2), a.long(3), k.toInt)
    },
    tvf("lorenz_gini", classOf[Concentration.type], "table, entityCol",
      "Lorenz concentration table + exact Gini over the count-of-counts histogram: (t, " +
        "m, cum_entities, cum_weight, entity_share_bp, weight_share_bp, gini_ppm).") { a =>
      Concentration.lorenz(a.table(0), a.str(1))
    },
    tvf("blocking_quality", classOf[BlockingQuality.type],
      "blocksTable, clustersTable, idCol, blockCol, clusterCol",
      "ER blocking report from size histograms: (n, truth_pairs, cand_pairs, " +
        "coblocked_truth_pairs, completeness_bp, reduction_bp).") { a =>
      BlockingQuality.report(a.table(0), a.table(1), a.str(2), a.str(3), a.str(4))
    },
    tvf("diff_in_diff", classOf[DiffInDiff.type],
      "table, armCol, periodCol, yCol, treatLabel, ctrlLabel, preLabel, postLabel",
      "difference-in-differences from the 2x2 cell means in exact ppm.") { a =>
      DiffInDiff.estimate(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4), a.str(5), a.str(6),
        a.str(7))
    },
    tvf("fano_burstiness", classOf[Burstiness.type], "table, keyCol, bucketCol",
      "Fano factor of per-bucket counts per key over the data's bucket domain: (k, " +
        "n_events, n_active_buckets, fano_ppm).") { a =>
      Burstiness.fano(a.table(0), a.str(1), a.str(2))
    },
    tvf("hits_scores", classOf[Hits.type], "table, iters",
      "unrolled unnormalized HITS over directed edges (src, dst): (id, auth, hub) exact " +
        "integer walk counts.") { a =>
      val iters = a.long(1)
      require(iters >= 1 && iters <= 4, s"hits_scores: iters must be in [1, 4], got $iters")
      Hits.scores(a.table(0), iters.toInt)
    },
    tvf("hits_converged", classOf[Hits.type], "table, iters",
      "ppm-of-max normalized HITS fixed point over directed edges (src, dst): (id, " +
        "auth_ppm, hub_ppm), any iteration depth.") { a =>
      val iters = a.long(1)
      require(iters >= 1, s"hits_converged: iters must be >= 1, got $iters")
      Hits.normalizedScores(a.table(0), iters.toInt)
    },
    tvf("modularity", classOf[Modularity.type], "edgesTable, labelsTable",
      "Newman Q of a community assignment in exact ppm: (label, n_nodes, e_in, d_tot, " +
        "contrib_ppm, modularity_ppm).") { a =>
      Modularity.score(a.table(0), a.table(1))
    },
    tvf("chi2_independence", classOf[ChiSquare.type], "table, xCol, yCol",
      "chi-square independence test of two categoricals, exact ppm contribs incl. absent " +
        "cells: (x, y, o, r_tot, c_tot, contrib_ppm, chi2_ppm, dof).") { a =>
      ChiSquare.independence(a.table(0), a.str(1), a.str(2))
    },
    tvf("conformal_calibrate", classOf[Conformal.type],
      "calTable, testTable, scoreCol, alphaNum, alphaDen",
      "split-conformal threshold at the exact ceil((n+1)(1-alpha)) rank plus realized " +
        "test coverage: (n_cal, k, q_hat, exact, n_test, n_covered, coverage_ppm).") { a =>
      Conformal.calibrate(a.table(0), a.table(1), a.str(2), a.long(3), a.long(4))
    },
    tvf("bcubed", classOf[BCubed.type], "table, clusterCol, labelCol",
      "B-cubed item-weighted clustering evaluation vs gold labels in exact ppm: (n, " +
        "n_clusters, n_labels, p_ppm, r_ppm, f1_ppm).") { a =>
      BCubed.score(a.table(0), a.str(1), a.str(2))
    },
    tvf("flesch", classOf[Readability.type], "table, idCol, textCol",
      "Flesch reading-ease in exact milli-scale integers with defined surrogate counts: " +
        "(id, words, sentences, syllables, flesch_milli, band).") { a =>
      Readability.flesch(a.table(0), a.str(1), a.str(2))
    },
    tvf("sweep_cut", classOf[SweepCut.type], "scoresTable, edgesTable, m",
      "ACL conductance sweep over score/degree-ranked nodes: (rank, id, score, degree, " +
        "vol, cut, cond_ppm, best_rank).") { a =>
      SweepCut.sweep(a.table(0), a.table(1), a.int(2))
    },
    tvf("ktruss", classOf[Truss.type], "edgesTable, k, rounds",
      "k-truss by fixed-round synchronous edge peeling over undirected edges (a, b): " +
        "surviving (a, b, support), a < b.") { a =>
      Truss.peel(a.table(0), a.int(1), a.int(2))
    },
    tvf("srm_check", classOf[SampleRatio.type], "table, armCol, aLabel, bLabel, expectA, expectB",
      "sample-ratio-mismatch chi-square vs the design ratio in exact ppm: (n_a, n_b, " +
        "expect_a, expect_b, a_share_ppm, expected_a_ppm, srm_ppm, srm_alarm).") { a =>
      SampleRatio.check(a.table(0), a.str(1), a.str(2), a.str(3), a.long(4), a.long(5))
    },
    tvf("rbo", classOf[Rbo.type], "xTable, yTable, qCol, dCol, rankCol, k, pNum, pDen",
      "rank-biased overlap of two rankings per query at depth k, exact ppm: (q, " +
        "n_matched, rbo_ppm).") { a =>
      Rbo.perQuery(a.table(0), a.table(1), a.str(2), a.str(3), a.str(4), a.int(5), a.long(6),
        a.long(7))
    },
    tvf("smd_balance", classOf[Balance.type], "table, armCol, xCol, aLabel, bLabel",
      "exact squared standardized mean difference across two arms: (n_a, n_b, " +
        "mean_a_ppm, mean_b_ppm, var_a, var_b, smd2_ppm, balanced).") { a =>
      Balance.smd(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4))
    },
    tvf("mann_kendall", classOf[TrendTest.type], "table, tCol, xCol",
      "Mann-Kendall trend test over a bounded unique time grain: (n, s, var18, z2_ppm), " +
        "z2 vs chi-square(1) critical values.") { a =>
      TrendTest.mannKendall(a.table(0), a.str(1), a.str(2))
    },
    tvf("benford_audit", classOf[Benford.type], "table, valueCol",
      "Benford first-digit audit of positive integers vs the fixed ppm expectation: (d, " +
        "o, expected_ppm, observed_ppm, contrib_ppm, chi2_ppm).") { a =>
      Benford.firstDigit(a.table(0), a.str(1))
    },
    tvf("effective_sample_size", classOf[EffectiveSampleSize.type], "table, groupCol, wCol",
      "Kish ESS and design effect of integer weights per group in exact ppm: (group, n, " +
        "w_sum, w_sq_sum, ess_ppm, deff_ppm).") { a =>
      EffectiveSampleSize.perGroup(a.table(0), Seq(a.str(1)), a.str(2))
    },
    tvf("assortativity", classOf[GraphStats.type], "table",
      "whole-graph stats over undirected edges (a, b): (n_nodes, n_edges, max_degree, " +
        "sum_d2, assortativity_ppm).") { a =>
      GraphStats.assortativity(a.table(0))
    },
    tvf("edge_support", classOf[Triangles.type], "table",
      "per-edge triangle support (k-truss building block) over undirected edges (a, b): " +
        "(a, b, support).") { a =>
      Triangles.edgeSupport(a.table(0))
    },
    tvf("bipartite_project", classOf[BipartiteProject.type],
      "table, userCol, itemCol, minShared, maxUserDegree",
      "item-item co-occurrence graph from (user, item) interactions: (i, j, n_shared).") { a =>
      val cap = a.long(4)
      require(cap >= 2 && cap <= Int.MaxValue,
        s"bipartite_project: maxUserDegree must be an int >= 2, got $cap")
      BipartiteProject.project(a.table(0), a.str(1), a.str(2), a.long(3), cap.toInt)
    },
    tvf("exp_smoothing", classOf[ExpSmoothing.type], "table, keyCol, bucketCol, valueCol, kLog2",
      "integer-exact exponential smoothing (alpha = 1/2^k) per key with one-step-ahead " +
        "forecasts: (k, t, x, forecast_x2k, err_x2k, level_x2k).") { a =>
      val k = a.long(4)
      require(k >= 1 && k <= 20, s"exp_smoothing: kLog2 must be in [1, 20], got $k")
      ExpSmoothing.ema(a.table(0), a.str(1), a.str(2), a.str(3), k.toInt)
    },
    tvf("two_proportion_z", classOf[Proportions.type],
      "table, groupCol, successCol, aLabel, bLabel",
      "exact pooled two-proportion z-squared in ppm: (n_a, n_b, x_a, x_b, rate_a_ppm, " +
        "rate_b_ppm, z2_ppm).") { a =>
      Proportions.zTest(a.table(0), a.str(1), a.str(2), a.str(3), a.str(4))
    })
}
