package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Sample-ratio-mismatch monitoring ON INGEST — the streaming face of
  * [[graft.operators.SampleRatio]]: per-arm exposure counts fold into
  * keyed state micro-batch by micro-batch, and after each batch the
  * goodness-of-fit χ² against the DESIGN ratio is recomputed over the
  * CUMULATIVE counts — the alarm frontier as the experiment platform
  * actually watches it (a broken splitter is caught on the batch where
  * the drift becomes significant, not at end of day). Same statistic as
  * q235, batch by batch:
  *   srm_ppm(batch) = Σ_g (10⁶·(o_g·(c+d) − n·e_g)²) div ((c+d)·n·e_g)
  * over the counts seen THROUGH that batch, alarm at the p < 10⁻³
  * practice bar (10.83·10⁶).
  *
  * One stateful pass ([[StreamingCusum]]'s harness): state per arm is
  * ONE long (the running count); each batch emits (batch, g, dn,
  * total), and the per-batch rollup runs over the (batches × 2)-bounded
  * update relation — a triangular batch join, nothing row-grain twice.
  * Rows outside the two arm labels are rejected BY NAME before staging
  * (a typo'd arm must not silently shift the ratio being policed).
  * The memory-sink table, checkpoint dir, and staged chunk dir are all
  * released before return (the round-13 cleanup discipline).
  *
  * Output, ascending: (batch, n_a, n_b, a_share_ppm, srm_ppm,
  * srm_alarm) — one row per batch that carried data, counts cumulative.
  */
object StreamingSrm {

  final case class Exposure(g: String, chunk: Int)
  final case class Upd(batch: Int, g: String, dn: Long, total: Long)

  private[streaming] def fold(
      g: String,
      rows: Iterator[Exposure],
      state: GroupState[Long]): Iterator[Upd] = {
    // one constant-space pass: only two counters are needed, so never
    // materialize the per-arm micro-batch (an arm is half the batch —
    // rows.toSeq here is an O(batch) heap spike on one executor)
    var batch = Int.MinValue
    var dn = 0L
    while (rows.hasNext) {
      val r = rows.next()
      if (r.chunk > batch) batch = r.chunk
      dn += 1L
    }
    val total = state.getOption.getOrElse(0L) + dn
    state.update(total)
    Iterator(Upd(batch, g, dn, total))
  }

  def run(
      changes: DataFrame,
      armCol: String,
      seqCol: String,
      aLabel: String,
      bLabel: String,
      expectA: Long = 1L,
      expectB: Long = 1L,
      chunks: Int): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._
    require(chunks > 0)
    require(aLabel != bLabel, "StreamingSrm.run: arm labels must differ")
    require(expectA >= 1 && expectB >= 1,
      s"StreamingSrm.run: expected ratio parts must be >= 1: $expectA:$expectB")
    val bounds = changes
      .agg(min(col(seqCol).cast("long")), max(col(seqCol).cast("long"))).head()
    require(!bounds.isNullAt(0), "empty stream")
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val per = (hi - lo) / chunks + 1
    val projected = changes.select(
      when(col(armCol).cast("string").isin(aLabel, bLabel),
        col(armCol).cast("string"))
        .otherwise(raise_error(concat(
          lit(s"StreamingSrm.run: arm must be '$aLabel' or '$bLabel', got "),
          col(armCol).cast("string")))).as("g"),
      least(expr(s"(CAST($seqCol AS LONG) - ${lo}L) div ${per}L"), lit(chunks - 1L))
        .cast("int").as("chunk"))
    val upds = SemiStreamRuntime.replayToMemory(
      spark, SemiStreamRuntime.Chunked(projected, col("chunk"), chunks), OutputMode.Append()) {
      _.as[Exposure]
        .groupByKey(_.g)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)
    }
    val batches = upds.select(col("batch").as("b")).distinct()
    val cd = expectA + expectB
    upds
      .join(batches, col("batch") <= col("b"))
      .groupBy("b")
      .agg(
        coalesce(sum(when(col("g") === aLabel, col("dn"))), lit(0L)).as("n_a"),
        coalesce(sum(when(col("g") === bLabel, col("dn"))), lit(0L)).as("n_b"))
      .select(
        col("b").as("batch"), col("n_a"), col("n_b"),
        expr("(1000000 * n_a) div (n_a + n_b)").as("a_share_ppm"),
        expr(
          s"""(1000000 * (CAST(n_a AS DECIMAL(38,0)) * ${cd}L - (n_a + n_b) * ${expectA}L)
             |          * (CAST(n_a AS DECIMAL(38,0)) * ${cd}L - (n_a + n_b) * ${expectA}L))
             |div (${cd}L * CAST(n_a + n_b AS DECIMAL(38,0)) * ${expectA}L)
             |+ (1000000 * (CAST(n_b AS DECIMAL(38,0)) * ${cd}L - (n_a + n_b) * ${expectB}L)
             |          * (CAST(n_b AS DECIMAL(38,0)) * ${cd}L - (n_a + n_b) * ${expectB}L))
             |div (${cd}L * CAST(n_a + n_b AS DECIMAL(38,0)) * ${expectB}L)""".stripMargin)
          .as("srm_ppm"))
      .withColumn("srm_alarm", col("srm_ppm") > 10830000L)
  }
}
