package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorMean
import graft.operators.Skew

class SkewAndAggSpec extends SparkSpec {

  test("salted two-phase aggregate equals the direct aggregate") {
    import sqlImplicits._
    val df = (1 to 5000).map(i => (if (i % 20 == 0) i.toLong % 10 else 3L, i.toDouble))
      .toDF("k", "v")
    val direct = df.groupBy("k").agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2)))).toSet
    val salted = Skew.saltedAggregate(df, "k", col("v"), 8)(
      _.agg(count(lit(1)).as("pn"), sum($"v").as("ps")))(
      _.agg(sum(col("pn")).as("n"), sum(col("ps")).as("s")))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2)))).toSet
    assert(salted == direct)
  }

  test("VectorMean aggregator computes element-wise means with partial merge") {
    import sqlImplicits._
    val df = Seq(
      (0, Seq(1.0, 2.0, 3.0)), (0, Seq(3.0, 4.0, 5.0)),
      (1, Seq(10.0, 20.0, 30.0)))
      .toDF("g", "vec").repartition(4) // force merge() across partitions
    val out = df.groupBy("g").agg(VectorMean.vectorMean(col("vec")).as("mean"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(out(0) == Seq(2.0, 3.0, 4.0))
    assert(out(1) == Seq(10.0, 20.0, 30.0))
  }

  test("VectorMean skips null vectors like avg skips null scalars") {
    import sqlImplicits._
    // udaf() hands null inputs straight to reduce(): a null
    // array<double> row (e.g. from a left join) NPE'd the whole
    // aggregation from inside codegen instead of being skipped
    val df = Seq(
      (0, Some(Seq(1.0, 3.0))), (0, None), (0, Some(Seq(3.0, 5.0))),
      (1, None)) // a group of ONLY nulls → empty mean
      .toDF("g", "vec")
    val out = df.groupBy("g").agg(VectorMean.vectorMean(col("vec")).as("mean"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(out(0) == Seq(2.0, 4.0))
    assert(out(1) == Seq.empty)
  }

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import sqlImplicits._
    // One hot key carries ~all left rows; force SMJ (no broadcast) and
    // drop the skew thresholds so local-mode data sizes trigger the
    // optimizer. Spark's own runtime split is the engine's answer to
    // join skew; no static salted join is kept beside it.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      val left = (1 to 40000).map(i => (if (i % 100 == 0) i.toLong % 37 else 7L, s"payload-$i"))
        .toDF("k", "v")
      val right = (0L until 64L).map(i => (i, s"dim-$i")).toDF("k", "name")
      val joined = left.join(right, Seq("k"))
      assert(joined.collect().length == 40000) // materialize joined ITSELF so ITS adaptive plan finalizes
      val plan = (joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).toString
      assert(plan.contains("skew=true"), s"expected a skew-split SMJ in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("VectorMean rejects ragged vectors instead of silently truncating") {
    import sqlImplicits._
    val df = Seq((0, Seq(1.0, 2.0, 3.0)), (0, Seq(1.0, 2.0))).toDF("g", "vec")
      .coalesce(1) // same partition → the mismatch hits reduce()
    val e = intercept[Exception] {
      df.groupBy("g").agg(VectorMean.vectorMean(col("vec")).as("mean")).collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("ragged")))
  }

  test("skew profile: hand-checked shares, ratios and exact percentiles") {
    import sqlImplicits._
    // key a: 6 rows, b: 2, c: 1, d: 1 -> N=10, K=4, counts sorted [1,1,2,6]
    // p50 = 1.5 (interpolated), p99 = 6*... quantile_cont([1,1,2,6], .99) = 1+... compute below.
    val rows = Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d")
    val df = rows.zipWithIndex.map { case (k, i) => (k, i) }.toDF("k", "v")
    val got = graft.operators.Skew.profile(df, Seq("k"), topK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7), r.getDouble(8))).toSeq
    // quantile_cont over sorted [1,1,2,6]: p50 -> idx 1.5 -> 1.5; p99 -> idx 2.97 -> 2 + .97*(6-2) = 5.88
    // percentile formula: pos = p*(n-1); lower + (pos - floor(pos))*(upper - lower),
    // replayed in the same double arithmetic (0.99*3 = 2.9699999999999998)
    val pos = 0.99 * 3.0
    val p99 = 2.0 + (pos - 2.0) * (6.0 - 2.0)
    assert(got == Seq(
      ("a", 6L, 0.6, 6.0 * 4.0 / 10.0, 10L, 4L, 6L, 1.5, p99),
      ("b", 2L, 0.2, 2.0 * 4.0 / 10.0, 10L, 4L, 6L, 1.5, p99)), got.toString)
  }

  test("skew profile: partitioning invariance and topK tie-break") {
    import sqlImplicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(_ => ("k" + rnd.nextInt(30), rnd.nextInt()))
    val a = graft.operators.Skew.profile(rows.toDF("k", "v"), Seq("k"), topK = 10).collect().toSeq
    val b = graft.operators.Skew.profile(rows.toDF("k", "v").repartition(13), Seq("k"), topK = 10).collect().toSeq
    assert(a == b)
  }

  test("joinCardinality predicts the exact join output and flags the explosion") {
    import sqlImplicits._
    val left = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")   // counts: 1->3, 2->1, 3->1
    val right = Seq(1L, 1L, 2L, 9L).toDF("k")      // counts: 1->2, 2->1, 9->1
    val r = graft.operators.Skew.joinCardinality(left, right, Seq("k")).head()
    assert(r.getAs[Long]("n_left") == 5L && r.getAs[Long]("n_right") == 4L)
    assert(r.getAs[Long]("n_keys_both") == 2L)
    assert(r.getAs[Long]("join_rows") == 7L)       // 3*2 + 1*1
    assert(r.getAs[Long]("max_key_rows") == 6L)
    assert(math.abs(r.getAs[Double]("amplification") - 7.0 / 5.0) < 1e-12)
    // the audit must equal the join it predicts
    assert(left.join(right, Seq("k")).count() == 7L)
  }
}
