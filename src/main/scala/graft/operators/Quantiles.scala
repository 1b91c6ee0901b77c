package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT distributed quantiles over a low-cardinality value domain (token
  * counts, document lengths, label ids — the corpus-statistics columns),
  * computed the scale-correct way: histogram first, rank second.
  *
  * A row-level sort-and-rank (`row_number` over each group) funnels every
  * row of a group through one partition — unusable when a group is a whole
  * corpus. Instead: `groupBy(group, value).count()` map-side combines to
  * one row per distinct value (the histogram, ≤ |domain| rows per group),
  * and the quantile is read off the histogram's running sum. The ONLY
  * data-sized work is the partial-aggregated count; the window runs over
  * histogram rows. `approx_percentile` trades exactness for one pass at
  * unbounded domains; on bounded domains this is exact AND one pass.
  *
  * Quantile contract (percentile_disc): q-quantile = the smallest value v
  * whose cumulative count reaches ceil(q·n), with q given as num/den so
  * the rank threshold is exact integer math.
  */
object Quantiles {

  /** Histogram rows `(group, __v, __c)` with the running count `__cum`
    * and the group total `__n`, both windows over the same group
    * partitioning: one exchange of the histogram, no join. A NULL group is
    * a partition like any other, so it keeps its totals.
    */
  private def withRanks(hist: DataFrame, groupCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy("__v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("__cum", sum("__c").over(w))
      .withColumn("__n", sum("__c").over(Window.partitionBy(groupCol)))
  }

  /** Output: (group, n, q_<name> per requested quantile), all integers.
    * `qs` entries are (colName, num, den) — e.g. ("p50", 1, 2).
    */
  def exactQuantiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      qs: Seq[(String, Long, Long)]): DataFrame = {
    require(qs.nonEmpty, "exactQuantiles: need at least one quantile")
    qs.foreach { case (n, num, den) =>
      require(num > 0 && den > 0 && num <= den, s"exactQuantiles: bad quantile $n=$num/$den")
    }
    val hist = df
      .groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val ranked = withRanks(hist, groupCol)
    val aggs = qs.map { case (name, num, den) =>
      min(when(col("__cum") >= expr(s"(${num}L * __n + ${den}L - 1L) div ${den}L"), col("__v")))
        .as(name)
    }
    ranked
      .groupBy(groupCol)
      .agg(first(col("__n")).as("n"), aggs: _*)
  }

  /** WEIGHTED exact quantiles — the revenue-weighted median and friends:
    * each row carries a non-negative integer weight and the q-quantile is
    * the smallest value v whose cumulative weight reaches ⌈q·W⌉ (the
    * weighted percentile_disc). Same histogram-first shape as
    * [[exactQuantiles]] (weights SUM into the value grain, so the window
    * still runs over ≤ |domain| rows per group), same exact integer rank
    * threshold with q as num/den. Negative weights are rejected by name;
    * zero-weight values can never be selected (they leave the cumulative
    * weight unmoved), and a group whose weights are ALL zero reports
    * NULL quantiles (w_total = 0 — no rank threshold exists).
    *
    * Output: (group, w_total, q_<name> per requested quantile).
    */
  def weighted(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      qs: Seq[(String, Long, Long)]): DataFrame = {
    require(qs.nonEmpty, "weighted: need at least one quantile")
    qs.foreach { case (n, num, den) =>
      require(num > 0 && den > 0 && num <= den, s"weighted: bad quantile $n=$num/$den")
    }
    val hist = df
      .select(
        col(groupCol),
        col(valueCol).as("__v"),
        when(col(weightCol).cast("long") < 0,
          raise_error(concat(
            lit("Quantiles.weighted: weights must be >= 0, got "),
            col(weightCol).cast("string"))).cast("long"))
          .otherwise(col(weightCol).cast("long")).as("__w0"))
      .groupBy(col(groupCol), col("__v"))
      .agg(sum("__w0").as("__c"))
    val ranked = withRanks(hist, groupCol)
    // __n = 0 (an all-zero-weight group) would make the ceil threshold 0
    // and '__cum >= 0' vacuously true — guard it so such a group reports
    // NULL quantiles instead of silently selecting its minimum value
    val aggs = qs.map { case (name, num, den) =>
      min(when(
        col("__n") > 0L &&
          col("__cum") >= expr(s"(${num}L * __n + ${den}L - 1L) div ${den}L"),
        col("__v"))).as(name)
    }
    ranked
      .groupBy(groupCol)
      .agg(first(col("__n")).as("w_total"), aggs: _*)
  }

  /** Per-group PERCENTILE RANKS of every distinct value — quantile
    * normalization, the cross-source score alignment trick (a "0.82
    * quality" from one scorer and a "6.1" from another only compare
    * through their within-source ranks; cf. rank-based normalization in
    * ensemble retrieval and microarray quantile normalization).
    *
    * Scale shape: one histogram aggregation (map-side combined, ≤ |group
    * × domain| rows), then the recursive [[PrefixSum]] over a composite
    * key (groupIndex · 2^41 + shifted value — monotone within a group, so
    * in-group order is key order) with per-group offsets subtracted back
    * out; every window anywhere is PARTITIONED and sees ≤ blockSize or
    * ≤ |groups|/partitions rows. A plain `cume_dist` window would funnel
    * each group's whole histogram (fine) but the JOIN BACK to rows is
    * never needed — consumers join on (group, value).
    *
    * Output: (group, value, n_rows, cum_le, pct_bp) with pct_bp =
    * (10000·cum_le) div n — the cume_dist of the value in exact basis
    * points. Values must be longs; group × value domains must be far
    * below data size (the histogram contract).
    */
  def percentileRanks(
      df: DataFrame,
      groupCol: String,
      valueCol: String): DataFrame = {
    val h = df.groupBy(col(groupCol), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
      .persist()
    val bounds = h.agg(min("__v").as("mn"), max("__v").as("mx")).head()
    require(!bounds.isNullAt(0), "percentileRanks: empty input")
    val minV = bounds.getLong(0)
    require(
      bounds.getLong(1) - minV < (1L << 41),
      s"value span too wide for the composite key: ${bounds.getLong(1) - minV}")
    // deterministic group index + per-group start offset, TWO-PHASE: the
    // group relation range-partitions on the group key (pid order = key
    // order), numbers and prefix-sums WITHIN each partition (partitioned
    // windows — no single-partition global window, no WindowExec
    // warning), and per-partition offsets come from the ≤ #partitions
    // partition stats (a bounded driver value, like the bucket-id
    // collects elsewhere). Correct under ANY range boundary choice: the
    // final numbering is the dense rank by group key regardless of where
    // the sampler cuts.
    val gparts = h.groupBy(groupCol).agg(sum("__c").as("__n"))
      .repartitionByRange(col(groupCol))
      .withColumn("__pid", spark_partition_id())
    val pw = Window.partitionBy("__pid").orderBy(groupCol)
    val local = gparts
      .withColumn("__li", row_number().over(pw).cast("long"))
      .withColumn(
        "__loff",
        coalesce(
          sum("__n").over(pw.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .persist()
    val pstats = local.groupBy("__pid")
      .agg(count(lit(1)).as("pc"), sum("__n").as("pn"))
      .collect()
      .sortBy(_.getInt(0))
    var cumRows = 0L
    var cumSum = 0L
    val offs = pstats.map { r =>
      val o = (r.getInt(0), cumRows, cumSum)
      cumRows += r.getLong(1)
      cumSum += r.getLong(2)
      o
    }
    // composite-key headroom: __gi rides the top bits of a long above the
    // 41-bit value offset, so the group count must stay below 2^22 —
    // enforced, not assumed (ADVICE r10: silent overflow corrupted key
    // order beyond ~4.2M groups)
    require(
      cumRows < (1L << 22),
      s"percentileRanks: group count $cumRows exceeds the composite-key headroom 2^22")
    import df.sparkSession.implicits._
    val offDf = df.sparkSession.createDataset(offs.toSeq)
      .toDF("__pid", "__prow", "__psum")
    val groups = local.join(broadcast(offDf), "__pid")
      .select(
        col(groupCol),
        col("__n"),
        (col("__li") - 1L + col("__prow")).as("__gi"),
        (col("__loff") + col("__psum")).as("__off"))
    val keyed = h.join(broadcast(groups), groupCol)
      .withColumn("k", col("__gi") * (1L << 41) + (col("__v") - lit(minV)))
    val before = PrefixSum.exclusive(keyed.select(col("k"), col("__c").as("s")))
    keyed
      .join(before, "k")
      .select(
        col(groupCol),
        col("__v").as("value"),
        col("__c").as("n_rows"),
        (col("before") - col("__off") + col("__c")).as("cum_le"),
        expr("((before - __off + __c) * 10000) div __n").as("pct_bp"))
  }
}
