package graft

import org.apache.spark.sql.functions._

import graft.operators.Quantiles

class QuantilesSpec extends SparkSpec {
  init()

  import spark.implicits._

  test("histogram quantiles equal the sorted-multiset definition") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 2000).map(i => (s"g${i % 3}", (rnd.nextInt(40) + 1).toLong))
    val df = rows.toDF("g", "v")
    val got = Quantiles
      .exactQuantiles(df, "g", "v", Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val sorted = grp.map(_._2).sorted
      val n = sorted.length
      def disc(num: Long, den: Long): Long = sorted(((num * n + den - 1) / den - 1).toInt)
      assert(got(g) == ((n.toLong, disc(1, 2), disc(9, 10), disc(99, 100))), g)
    }
  }

  test("quantiles of a group are untouched by other groups; edge quantiles hit min/max") {
    val df = Seq(("a", 5L), ("a", 1L), ("a", 9L), ("b", 1000L)).toDF("g", "v")
    val got = Quantiles
      .exactQuantiles(df, "g", "v", Seq(("lo", 1L, 3L), ("hi", 1L, 1L)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((3L, 1L, 9L))) // ceil(n/3)=1 → min; q=1 → max
    assert(got("b") == ((1L, 1000L, 1000L)))
  }

  test("weighted quantiles equal the expanded-multiset definition") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 800).map(i =>
      (s"g${i % 2}", (rnd.nextInt(25) + 1).toLong, rnd.nextInt(5).toLong))
    val df = rows.toDF("g", "v", "w")
    val got = Quantiles
      .weighted(df, "g", "v", "w", Seq(("p50", 1L, 2L), ("p90", 9L, 10L)))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      // expand each row to w copies: weighted disc == plain disc on the expansion
      val expanded = grp.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
      val n = expanded.length
      def disc(num: Long, den: Long): Long = expanded(((num * n + den - 1) / den - 1).toInt)
      assert(got(g) == ((n.toLong, disc(1, 2), disc(9, 10))), g)
    }
  }

  test("unit weights reduce weighted to plain quantiles; negative weights fail by name") {
    val rows = (1 to 300).map(i => (s"g${i % 2}", ((i * 7) % 31).toLong))
    val df = rows.toDF("g", "v")
    val plain = Quantiles.exactQuantiles(df, "g", "v", Seq(("p50", 1L, 2L)))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val wted = Quantiles.weighted(df.withColumn("w", lit(1L)), "g", "v", "w",
        Seq(("p50", 1L, 2L)))
      .orderBy("g").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(plain == wted)
    val neg = Seq(("a", 1L, -2L)).toDF("g", "v", "w")
    val ex = intercept[Exception] {
      Quantiles.weighted(neg, "g", "v", "w", Seq(("p50", 1L, 2L))).collect()
    }
    assert(ex.getMessage.contains("weights must be >= 0")
      || ex.getCause != null && ex.getCause.getMessage.contains("weights must be >= 0"))
  }

  test("an all-zero-weight group reports NULL quantiles, never its min value") {
    val rows = Seq(("z", 5L, 0L), ("z", 9L, 0L), ("ok", 5L, 1L), ("ok", 9L, 1L))
    val got = Quantiles
      .weighted(rows.toDF("g", "v", "w"), "g", "v", "w", Seq(("p50", 1L, 2L)))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq
    assert(got == Seq(("ok", 2L, Some(5L)), ("z", 0L, None)))
  }

  test("a NULL group is a group: exact_quantiles and weighted_quantiles TVFs keep it") {
    Seq[(String, Long, Long)](("a", 1L, 1L), ("a", 3L, 1L), (null, 2L, 1L), (null, 8L, 3L))
      .toDF("g", "v", "w").createOrReplaceTempView("q_null_groups")
    val exact = spark.sql(
        "SELECT * FROM exact_quantiles('q_null_groups', 'g', 'v', 'p50:1/2,max:1/1')")
      .orderBy("g").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(exact == Seq((None, 2L, 2L, 8L), (Some("a"), 2L, 1L, 3L)))
    val weighted = spark.sql("SELECT * FROM weighted_quantiles('q_null_groups', 'g', 'v', 'w')")
      .orderBy("g").collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(3)))
      .toSeq
    // weights 1 + 3: the weighted median of the NULL group is 8, not 2
    assert(weighted == Seq((None, 4L, 8L), (Some("a"), 2L, 1L)))
  }

  test("the data-sized aggregation is partial (histogram shape, no row-level window)") {
    val df = Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("g", "v")
    val plan = Quantiles.exactQuantiles(df, "g", "v", Seq(("p50", 1L, 2L)))
      .queryExecution.executedPlan.toString
    // the first aggregate over raw rows must map-side combine
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }

  test("percentile ranks equal the cume_dist window form (negatives, sparse, multi-group)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = Seq(
      ("a", -5L), ("a", -5L), ("a", 0L), ("a", 1000000L),
      ("b", 7L), ("b", 7L), ("b", 7L),
      ("c", 3L), ("c", 9L)).toDF("g", "v")
    val got = graft.operators.Quantiles.percentileRanks(df, "g", "v")
      .orderBy("g", "value").collect().toSeq
    val expect = df.groupBy("g", "v").count()
      .withColumn(
        "cum_le",
        org.apache.spark.sql.functions.sum("count")
          .over(Window.partitionBy("g").orderBy("v")))
      .withColumn(
        "n",
        org.apache.spark.sql.functions.sum("count").over(Window.partitionBy("g")))
      .selectExpr("g", "v AS value", "count AS n_rows", "cum_le",
        "(cum_le * 10000) div n AS pct_bp")
      .orderBy("g", "value").collect().toSeq
    assert(got == expect)
    // every group tops out at exactly 10000 bp
    val tops = got.groupBy(_.getString(0)).values.map(_.map(_.getLong(4)).max)
    assert(tops.forall(_ == 10000L))
  }

  test("percentile ranks: partition invariance on real data") {
    val ev = graft.core.Tables(spark, sfSmoke, "events")
      .select(org.apache.spark.sql.functions.col("event_type"),
        org.apache.spark.sql.functions.expr("CAST(round(value * 100) AS LONG)").as("cents"))
    val a = graft.operators.Quantiles.percentileRanks(ev, "event_type", "cents")
      .orderBy("event_type", "value").collect().toSeq
    val b = graft.operators.Quantiles.percentileRanks(ev.repartition(13), "event_type", "cents")
      .orderBy("event_type", "value").collect().toSeq
    assert(a == b && a.nonEmpty)
  }
}
