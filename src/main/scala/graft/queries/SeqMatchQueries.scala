package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.SubsequenceMatch

/** Subsequence-matching query pack (S3M/KV-match capability) over the
  * events table. The stored series is the global event sequence —
  * `event_id` is dense 0..n−1, so index assignment and the delta transform
  * are equi-joins (`v(i) = value(i+1) − value(i)`), never a global-order
  * window. The query sequence is the series' own window [500, 600) — its
  * matches (including the exact self-match at 500) are well-separated in
  * distance, so thresholds sit in wide gaps.
  */
object SeqMatchQueries {

  /** Delta series (idx, v), idx ∈ [0, n−2]: SURVEY M1 as an equi-join. */
  def deltaSeries(events: DataFrame): DataFrame = {
    val a = events.select(col("event_id").as("idx"), col("value"))
    val b = events.select((col("event_id") - 1).as("idx"), col("value").as("nv"))
    a.join(b, "idx").select(col("idx"), (col("nv") - col("value")).as("v"))
  }

  /** Shared per-(session, dir) series + mean index: the reference builds
    * its KV index ONCE (`IndexBuilder` persists it to storage,
    * `IndexFileOperator` reads the files back) and every query engine
    * reads that artifact — rebuilding the index per query would be both
    * unfaithful and wasteful. The index is MATERIALIZED to parquet the
    * same way (S8 sink → scan): partitioned by width, sorted by mean
    * within each file, so a segment probe prunes to one width directory
    * and its in-range row groups (pushed `mean` filters hit the sorted
    * row-group stats). A disk artifact also survives bench cache
    * isolation — an in-memory index dropped by `clearCache` would
    * silently re-charge its build to whichever query ran next. The series
    * side stays a lazy equi-join over the parquet scan (persisting it
    * blocks the verify gather's broadcast plan — measured 6× slower on
    * the DTW queries).
    */
  private val indexCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]

  private def seriesAndIndex(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    indexCache.getOrElseUpdate((s, dir), {
      val series = deltaSeries(Tables(s, dir, "events"))
      val idxDir = graft.streaming.SemiStreamRuntime.tempDir("meanidx-")
        .resolve("idx").toString
      SubsequenceMatch.meanIndex(series)
        .repartition(col("w"))
        .sortWithinPartitions("mean")
        .write
        .partitionBy("w")
        .parquet(idxDir)
      (series, s.read.parquet(idxDir))
    })

  private def queryWindow(series: DataFrame, from: Long, len: Int): Array[Double] = {
    val rows = series
      .filter(col("idx") >= from && col("idx") < from + len)
      .orderBy("idx")
      .select("v")
      .collect()
    require(rows.length == len, s"query window [$from,${from + len}) incomplete")
    rows.map(_.getDouble(0))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact ED subsequence match (SURVEY M2/M3): multi-width mean index →
    // segment mean probe → exact verify. Oracle = brute-force sliding ED.
    "q28_seqmatch_ed" -> ((s, dir) => {
      val (series, index) = seriesAndIndex(s, dir)
      val q = queryWindow(series, 500, 100)
      SubsequenceMatch.matchED(series, index, q, math.sqrt(430000.0))
        .select(col("start"), round(col("d2"), 2).as("d2"))
        .orderBy("start")
    }),

    // Banded DTW match (SURVEY M4): band-widened probe + exact DP verify.
    // Oracled: the DP does have a SQL form — an anti-diagonal recursive
    // CTE over LB_Keogh-prefiltered windows (see `oracles`);
    // SubsequenceMatchSpec additionally compares against a naive full-scan
    // DTW.
    "q29_seqmatch_dtw" -> ((s, dir) => {
      val (series, index) = seriesAndIndex(s, dir)
      val q = queryWindow(series, 500, 100)
      SubsequenceMatch.matchDTW(series, index, q, math.sqrt(25000.0), band = 5)
        .select(col("start"), round(col("d2"), 2).as("d2"))
        .orderBy("start")
    }),

    // Z-normalized ED with the reference's amplitude constraints (SURVEY
    // M5): oracle is the closed form 2m − 2·⟨s,zq⟩/σ_s over the
    // brute-force sliding window.
    "q30_seqmatch_normed" -> ((s, dir) => {
      val (series, index) = seriesAndIndex(s, dir)
      val q = queryWindow(series, 500, 100)
      SubsequenceMatch.matchNormED(
          series, index, q, eps = math.sqrt(117.0), alphaStd = 3.0, betaMean = 5.0)
        // clamp: the closed form can land at −1e-13 on the self-match and
        // round to an engine-dependent −0.0
        .select(col("start"), round(greatest(col("d2"), lit(0.0)), 2).as("d2"))
        .orderBy("start")
    }),

    // Z-normalized banded DTW (SURVEY M5/M6 — the reference's 4th query
    // mode). Oracled: row-wise min-plus DP recursion over windows that
    // survive three exact lower bounds (see `oracles`);
    // SubsequenceMatchSpec additionally compares against a naive full-scan
    // normalized DTW.
    "q42_seqmatch_normdtw" -> ((s, dir) => {
      val (series, index) = seriesAndIndex(s, dir)
      val q = queryWindow(series, 500, 100)
      SubsequenceMatch.matchNormDTW(
          series, index, q, eps = math.sqrt(20.0), rho = 5, alphaStd = 3.0, betaMean = 5.0)
        .select(col("start"), round(col("d2"), 2).as("d2"))
        .orderBy("start")
    }))

  val oracles: Map[String, String] = Map(
    // Banded DTW replayed in SQL: LB_Keogh envelope prefilter (an exact
    // lower bound - no false dismissals), then the exact Sakoe-Chiba DP as
    // an anti-diagonal recursion (each new diagonal needs the previous two,
    // so every level carries its frontier plus the one behind it).
    "q29_seqmatch_dtw" ->
      """WITH RECURSIVE
        |d AS MATERIALIZED (
        |  SELECT a.event_id AS idx, b.value - a.value AS v
        |  FROM events a JOIN events b ON b.event_id = a.event_id + 1),
        |q AS MATERIALIZED (SELECT idx - 500 AS qi, v AS qv FROM d WHERE idx >= 500 AND idx < 600),
        |env AS (
        |  SELECT j.range + 1 AS j, max(q.qv) AS u, min(q.qv) AS l
        |  FROM range(0, 100) j JOIN q ON q.qi BETWEEN j.range - 5 AND j.range + 5
        |  GROUP BY 1),
        |win AS (
        |  SELECT s.idx - (e.j - 1) AS start, e.j AS j, s.v, e.u, e.l
        |  FROM d s, env e
        |  WHERE s.idx - (e.j - 1) >= 0),
        |lb AS MATERIALIZED (
        |  SELECT start,
        |         sum(CASE WHEN v > u THEN (v-u)*(v-u)
        |                  WHEN v < l THEN (l-v)*(l-v) ELSE 0 END) AS lbk
        |  FROM win GROUP BY start
        |  HAVING count(*) = 100
        |     AND sum(CASE WHEN v > u THEN (v-u)*(v-u)
        |                  WHEN v < l THEN (l-v)*(l-v) ELSE 0 END) <= 25000.0 + 1.0),
        |sv AS MATERIALIZED (SELECT w.start, w.j, w.v FROM win w JOIN lb USING (start)),
        |cost AS MATERIALIZED (
        |  SELECT s.start, q.qi + 1 AS i, s.j, (q.qv - s.v) * (q.qv - s.v) AS cst
        |  FROM sv s, q
        |  WHERE s.j BETWEEN greatest(1, q.qi + 1 - 5) AND least(100, q.qi + 1 + 5)),
        |dp(start, i, j, val, cur) AS (
        |  SELECT start, 0, 0, CAST(0 AS DOUBLE), TRUE FROM lb
        |  UNION ALL
        |  SELECT c.start, c.ni, c.nj,
        |         CASE WHEN c.knew THEN min(c.val) + any_value(cost.cst)
        |              ELSE min(c.val) END,
        |         c.knew
        |  FROM (
        |    SELECT dp.start, m.ni, m.nj, dp.val, m.knew
        |    FROM dp,
        |         unnest(CASE WHEN dp.cur
        |                THEN [{'ni': dp.i+1, 'nj': dp.j,   'knew': TRUE},
        |                      {'ni': dp.i,   'nj': dp.j+1, 'knew': TRUE},
        |                      {'ni': dp.i,   'nj': dp.j,   'knew': FALSE}]
        |                ELSE [{'ni': dp.i+1, 'nj': dp.j+1, 'knew': TRUE}] END) AS t(m)
        |    WHERE (NOT m.knew AND dp.cur)
        |       OR (m.knew AND m.ni BETWEEN 1 AND 100
        |           AND m.nj BETWEEN greatest(1, m.ni - 5) AND least(100, m.ni + 5))
        |  ) c
        |  LEFT JOIN cost ON cost.start = c.start AND cost.i = c.ni AND cost.j = c.nj
        |  GROUP BY c.start, c.ni, c.nj, c.knew)
        |SELECT start, round(val, 2) AS d2
        |FROM dp
        |WHERE i = 100 AND j = 100 AND cur AND val <= 25000.0
        |ORDER BY start""".stripMargin,

    // Normalized banded DTW: amplitude-admissible windows z-normalized in
    // SQL, pruned by three exact lower bounds (LB_Keogh envelope, per-row
    // min-cost sum, per-column min-cost sum - a DTW path visits every row
    // and every column), then a row-wise DP where the in-row dependency
    // curr(j) = min(a(j), curr(j-1) + cost(j)) is unrolled into a running
    // min over a(k) - costPrefix(k) (a min-plus prefix scan, SQL-window
    // expressible). Heavy CTEs are MATERIALIZED so the recursion does not
    // recompute them per iteration.
    "q42_seqmatch_normdtw" ->
      """WITH RECURSIVE
        |d AS MATERIALIZED (
        |  SELECT a.event_id AS idx, b.value - a.value AS v
        |  FROM events a JOIN events b ON b.event_id = a.event_id + 1),
        |q AS MATERIALIZED (SELECT idx - 500 AS qi, v AS qv FROM d WHERE idx >= 500 AND idx < 600),
        |qs AS (SELECT avg(qv) AS muq,
        |              sqrt(avg(qv * qv) - avg(qv) * avg(qv)) AS sdq FROM q),
        |zq AS MATERIALIZED (SELECT qi, (qv - muq) / sdq AS qv FROM q, qs),
        |winraw AS (
        |  SELECT s.idx - jj.range AS start, jj.range + 1 AS j, s.v
        |  FROM d s, range(0, 100) jj
        |  WHERE s.idx - jj.range >= 0),
        |stats AS (
        |  SELECT start, avg(v) AS mu,
        |         sqrt(avg(v * v) - avg(v) * avg(v)) AS sd
        |  FROM winraw GROUP BY start HAVING count(*) = 100),
        |adm AS MATERIALIZED (
        |  SELECT start, mu, sd FROM stats, qs
        |  WHERE sd > 0 AND abs(mu - muq) <= 5.0
        |    AND sd / sdq <= 3.0 AND sd / sdq >= 1.0 / 3.0),
        |nsv AS MATERIALIZED (
        |  SELECT w.start, w.j, (w.v - a.mu) / a.sd AS v
        |  FROM winraw w JOIN adm a USING (start)),
        |envz AS (
        |  SELECT j.range + 1 AS j, max(z.qv) AS u, min(z.qv) AS l
        |  FROM range(0, 100) j JOIN zq z ON z.qi BETWEEN j.range - 5 AND j.range + 5
        |  GROUP BY 1),
        |costall AS (
        |  SELECT s.start, z.qi + 1 AS i, s.j, (z.qv - s.v) * (z.qv - s.v) AS cst
        |  FROM nsv s, zq z
        |  WHERE s.j BETWEEN greatest(1, z.qi + 1 - 5) AND least(100, z.qi + 1 + 5)),
        |keep AS MATERIALIZED (
        |  SELECT k.start FROM (
        |    SELECT n.start,
        |           sum(CASE WHEN n.v > e.u THEN (n.v - e.u) * (n.v - e.u)
        |                    WHEN n.v < e.l THEN (e.l - n.v) * (e.l - n.v) ELSE 0 END) AS lbk
        |    FROM nsv n JOIN envz e USING (j) GROUP BY n.start) k
        |  JOIN (SELECT start, sum(m) AS rs FROM
        |          (SELECT start, i, min(cst) AS m FROM costall GROUP BY 1, 2) GROUP BY 1) r
        |    USING (start)
        |  JOIN (SELECT start, sum(m) AS cs FROM
        |          (SELECT start, j, min(cst) AS m FROM costall GROUP BY 1, 2) GROUP BY 1) c
        |    USING (start)
        |  WHERE k.lbk <= 21.0 AND r.rs <= 21.0 AND c.cs <= 21.0),
        |sv AS MATERIALIZED (SELECT n.start, n.j, n.v FROM nsv n JOIN keep USING (start)),
        |cost AS MATERIALIZED (
        |  SELECT s.start, z.qi + 1 AS i, s.j,
        |         (z.qv - s.v) * (z.qv - s.v) AS cst,
        |         sum((z.qv - s.v) * (z.qv - s.v))
        |           OVER (PARTITION BY s.start, z.qi ORDER BY s.j) AS cpre
        |  FROM sv s, zq z
        |  WHERE s.j BETWEEN greatest(1, z.qi + 1 - 5) AND least(100, z.qi + 1 + 5)),
        |dp(start, i, j, val) AS (
        |  SELECT start, 1, j, cpre FROM cost WHERE i = 1
        |  UNION ALL
        |  SELECT cp.start, cp.i, cp.j,
        |         cp.cpre + min(coalesce(p.pmin + cp.cst, 1e300) - cp.cpre)
        |                     OVER (PARTITION BY cp.start ORDER BY cp.j)
        |  FROM (
        |    SELECT start, i + 1 AS ni, tj AS j, min(val) AS pmin
        |    FROM dp, unnest([dp.j, dp.j + 1]) AS t(tj)
        |    GROUP BY start, ni, tj
        |  ) p
        |  JOIN cost cp ON cp.start = p.start AND cp.i = p.ni AND cp.j = p.j
        |  WHERE p.ni <= 100)
        |SELECT start, round(val, 2) AS d2
        |FROM dp
        |WHERE i = 100 AND j = 100 AND val <= 20.0
        |ORDER BY start""".stripMargin,

    // normED closed form: d2 = 2m − 2·⟨s, zq⟩/σ_s with the amplitude
    // filters — same cross-join-and-group shape as q28's oracle.
    "q30_seqmatch_normed" ->
      """WITH d AS (
        |  SELECT a.event_id AS idx, b.value - a.value AS v
        |  FROM events a JOIN events b ON b.event_id = a.event_id + 1),
        |q AS (SELECT idx - 500 AS qi, v AS qv FROM d WHERE idx >= 500 AND idx < 600),
        |qs AS (SELECT avg(qv) AS muq,
        |              sqrt(avg(pow(qv, 2)) - pow(avg(qv), 2)) AS sdq FROM q),
        |zq AS (SELECT qi, (qv - muq) / sdq AS zqv FROM q, qs),
        |w AS (
        |  SELECT s.idx - z.qi AS start,
        |         count(*) AS c,
        |         avg(s.v) AS mu,
        |         sqrt(avg(pow(s.v, 2)) - pow(avg(s.v), 2)) AS sd,
        |         sum(s.v * z.zqv) AS dot
        |  FROM d s JOIN zq z ON true
        |  GROUP BY 1)
        |SELECT start, round(greatest(200 - 2 * dot / sd, 0), 2) AS d2
        |FROM w, qs
        |WHERE c = 100 AND sd > 0
        |  AND abs(mu - muq) <= 5.0
        |  AND sd / sdq <= 3.0 AND sd / sdq >= 1.0 / 3.0
        |  AND 200 - 2 * dot / sd <= 117.0
        |ORDER BY start""".stripMargin,

    "q28_seqmatch_ed" ->
      """WITH d AS (
        |  SELECT a.event_id AS idx, b.value - a.value AS v
        |  FROM events a JOIN events b ON b.event_id = a.event_id + 1),
        |q AS (SELECT idx - 500 AS qi, v AS qv FROM d WHERE idx >= 500 AND idx < 600)
        |SELECT s.idx - q.qi AS start, round(sum(pow(s.v - q.qv, 2)), 2) AS d2
        |FROM d s JOIN q ON true
        |GROUP BY 1
        |HAVING count(*) = 100 AND sum(pow(s.v - q.qv, 2)) <= 430000
        |ORDER BY 1""".stripMargin)
}
