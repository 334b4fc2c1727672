package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Promql
import SparkFixture.{sf, spark}

class PromqlSpec extends AnyFunSuite {

  test("parser round-trips the supported grammar") {
    assert(Promql.parse("click") === Promql.Selector("click", Seq.empty))
    assert(Promql.parse("""click{user_id="5"}""") ===
      Promql.Selector("click", Seq(("user_id", "=", "5"))))
    assert(Promql.parse("""rate(click{user_id!="5"}[5m])""") ===
      Promql.RangeFunc("rate", Promql.Selector("click",
        Seq(("user_id", "!=", "5"))), 300))
    assert(Promql.parse("sum by (user_id)(count_over_time(view[1h]))") ===
      Promql.Agg("sum", Seq("user_id"),
        Promql.RangeFunc("count_over_time", Promql.Selector("view", Seq.empty), 3600)))
    assert(Promql.parse("topk(3, avg_over_time(purchase[1h]))") ===
      Promql.Agg("topk", Seq.empty,
        Promql.RangeFunc("avg_over_time", Promql.Selector("purchase", Seq.empty), 3600), 3))
  }

  test("garbage fails with a parse error, not a plan error") {
    Seq("sum(", "topk(x, click)", "click{user_id=5}", "rate(click[5x])")
      .foreach { bad =>
        val e = intercept[IllegalArgumentException](Promql.parse(bad))
        assert(e.getMessage.contains("parse error"))
      }
  }

  test("matcher filters restrict the series set") {
    val all = Promql.query(spark, sf, "count_over_time(click[1h])")
    val one = Promql.query(spark, sf, """count_over_time(click{user_id="5"}[1h])""")
    assert(one.count() < all.count())
    assert(one.select("user_id").distinct().collect().map(_.getLong(0)).toSeq === Seq(5L))
  }

  test("promql sum equals the direct operator formulation") {
    val viaPromql = Promql.query(spark, sf, "sum(count_over_time(click[1h]))")
    val direct = Tables.events(spark, sf)
      .filter(col("event_type") === "click")
      .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).as("step"))
      .agg(count(lit(1)).cast("double").as("value"))
    assert(viaPromql.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(viaPromql).count() === 0)
  }

  test("promql topk returns at most k per step, ranked by value") {
    val df = Promql.query(spark, sf, "topk(2, max_over_time(error[1h]))")
    assert(df.groupBy("step").count().filter(col("count") > 2).count() === 0)
    assert(df.count() > 0)
    // ranked via TopKPerKey (partial heaps + pruned shuffle), not a
    // per-step window that sorts every series of a step on one reducer
    val tree = SparkFixture.planOf(df).split("\n\n").head
    assert(tree.contains("TopKPerKey"), s"topk must plan TopKPerKey:\n$tree")
    assert(!tree.contains("Window"), s"topk must not plan a window sort:\n$tree")
    // per step, the kept values are the k largest: max excluded <= min kept
    val kept = Promql.query(spark, sf, "topk(2, max_over_time(error[1h]))")
      .groupBy("step").agg(min("value").as("kmin"), count(lit(1)).as("kn"))
    val all = Promql.query(spark, sf, "max_over_time(error[1h])")
    val excluded = all.join(df.select(col("step"), col("user_id"), lit(1).as("in_k")),
      Seq("step", "user_id"), "left_anti")
    val bad = excluded.join(kept, "step").filter(col("value") > col("kmin"))
    assert(bad.count() === 0, "an excluded series outranks a kept one")
  }

  test("equality matchers reach the parquet scan as pushed filters") {
    val df = Promql.query(spark, sf, """count_over_time(click{user_id="123"}[1h])""")
    val plan = SparkFixture.planOf(df)
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("EqualTo(user_id,123)"),
      s"user_id matcher not pushed to the scan:\n$plan")
  }

  test("range windows are honored: rate(click[5m]) evaluates 300s buckets") {
    val df = Promql.query(spark, sf, "rate(click[5m])")
    val steps = df.select("step").distinct().collect().map(_.getLong(0))
    assert(steps.nonEmpty)
    assert(steps.forall(_ % 300 === 0), "steps must align to the 5m window")
    // windows are 300s wide, so there must be strictly more distinct 5m
    // buckets than 1h buckets over the same data
    val hourly = Promql.query(spark, sf, "rate(click[1h])")
      .select("step").distinct().count()
    assert(steps.length > hourly)
  }

  test("rate handles counter resets: monotonic growth, reset counts from zero") {
    // synthetic: one series, one window; 10 -> 12 -> 3 -> 4 means
    // growth 2, then a reset (3 counts fully), then 1 => increase 6
    import spark.implicits._
    val t0 = 1704067200000000L
    val rows = Seq(
      (1L, "click", t0, 10.0, 1L), (1L, "click", t0 + 1000000L, 12.0, 2L),
      (1L, "click", t0 + 2000000L, 3.0, 3L), (1L, "click", t0 + 3000000L, 4.0, 4L))
      .toDF("user_id", "event_type", "us", "value", "event_id")
      .withColumn("ts", timestamp_micros(col("us")))
    val tmp = SparkFixture.tmp("promql_reset_events")
    rows.select("user_id", "event_type", "ts", "value", "event_id")
      .withColumn("ts", unix_micros(col("ts")) * 1000) // raw ns long, as testdata
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val df = Promql.query(spark, tmp, "increase(click[1h])")
    val got = df.collect()
    assert(got.length === 1)
    assert(got.head.getAs[Double]("value") === 6.0)
  }

  test("binary ops join on(step, label); division guards zero") {
    val df = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) / on(user_id) sum_over_time(click[1h])")
    assert(df.columns.toSeq === Seq("step", "user_id", "value"))
    assert(df.count() > 0)
    // every output (step,user) exists on both sides
    val p = Promql.query(spark, sf, "sum_over_time(purchase[1h])")
    val c = Promql.query(spark, sf, "sum_over_time(click[1h])")
    assert(df.select("step", "user_id")
      .exceptAll(p.select("step", "user_id")
        .intersect(c.select("step", "user_id"))).count() === 0)
  }

  test("ignoring + group_left: per-user share of the per-step total") {
    val df = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) / ignoring(user_id) group_left sum(sum_over_time(purchase[1h]))")
    assert(df.columns.toSeq === Seq("step", "user_id", "value"))
    // shares are in (0, 1] and sum to ~1 per step (every user matched)
    assert(df.filter(col("value") <= 0 || col("value") > 1.0 + 1e-9).count() === 0)
    val sums = df.groupBy("step").agg(sum("value").as("s")).collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-6,
      s"per-step shares must sum to 1, got ${r.getDouble(1)}"))
    // one output row per lhs row: many-to-one join preserved cardinality
    val lhs = Promql.query(spark, sf, "sum_over_time(purchase[1h])")
    assert(df.count() === lhs.count())
  }

  test("without() groups by the complement label set") {
    // the only label after a range func is user_id, so `without (user_id)`
    // must equal the bare `sum(...)` per-step aggregate
    val withou = Promql.query(spark, sf,
      "sum without (user_id)(count_over_time(click[1h]))")
    val bare = Promql.query(spark, sf, "sum(count_over_time(click[1h]))")
    assert(withou.exceptAll(bare).count() === 0)
    assert(bare.exceptAll(withou).count() === 0)
  }

  test("bottomk mirrors topk with ascending rank") {
    val bot = Promql.query(spark, sf, "bottomk(2, max_over_time(error[1h]))")
    val top = Promql.query(spark, sf, "topk(2, max_over_time(error[1h]))")
    assert(bot.groupBy("step").count().filter(col("count") > 2).count() === 0)
    // k smallest vs k largest: per step, bottomk's extremes are <= topk's
    // (sets may overlap entirely when a step has <= k series)
    val pairs = bot.groupBy("step")
      .agg(min("value").as("bmin"), max("value").as("bmax"))
      .join(top.groupBy("step")
        .agg(min("value").as("tmin"), max("value").as("tmax")), "step")
    assert(pairs.filter(col("bmin") > col("tmin") || col("bmax") > col("tmax"))
      .count() === 0)
  }

  test("vector-scalar arithmetic projects without a join") {
    val perMin = Promql.query(spark, sf, "rate(click[5m]) * 60")
    val perSec = Promql.query(spark, sf, "rate(click[5m])")
    val joined = perMin.withColumnRenamed("value", "m")
      .join(perSec, Seq("step", "user_id"))
    assert(joined.filter(abs(col("m") - col("value") * 60) > 1e-12).count() === 0)
    assert(perMin.count() === perSec.count())
    // scalar-left division
    val inv = Promql.query(spark, sf, "1 / sum_over_time(purchase[1h])")
    assert(inv.count() > 0)
    // no join in the plan: scalar arithmetic is a projection
    val tree = SparkFixture.planOf(perMin).split("\n\n").head
    assert(!tree.contains("Join"), s"scalar arithmetic must not join:\n$tree")
    // bare scalars are rejected with a clear message
    val e = intercept[IllegalArgumentException](
      Promql.query(spark, sf, "42").collect())
    assert(e.getMessage.contains("scalar"))
  }

  test("stepped range query: lookback instant vectors, the reference's test shape") {
    // mirrors prometheus/promql_test.go: 3 series, sum(metric) evaluated
    // start..end by step with the 5m lookback
    import spark.implicits._
    val t0 = 1704067200L // epoch sec
    val rows = Seq(
      // one sample per series at t0, value 1.0 each
      (1L, t0 * 1000000L, 1.0, 1L), (2L, t0 * 1000000L, 1.0, 2L), (3L, t0 * 1000000L, 1.0, 3L),
      // series 1 emits 5.0 at t0+120: steps >= 120s see the newer sample
      (1L, (t0 + 120L) * 1000000L, 5.0, 4L))
      .toDF("user_id", "us", "value", "event_id")
    val tmp = SparkFixture.tmp("promql_stepped_events")
    rows.select(col("event_id"), (col("us") * 1000).as("ts"), col("user_id"),
      lit("click").as("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val spec = Promql.EvalSpec(t0, t0 + 300L, 60L, lookbackSec = 300L)
    val got = Promql.queryAt(spark, tmp, "sum(click)", spec)
      .collect().map(r => (r.getLong(0) - t0, r.getDouble(1))).sortBy(_._1)
    // steps 0..240: all 3 series in lookback; from 120 series 1 reads 5.0
    // (last sample wins); step 300 is outside the t0 samples' lookback
    // window (exclusive start), so only series 1's t0+120 sample serves
    assert(got.toSeq === Seq(
      (0L, 3.0), (60L, 3.0), (120L, 7.0), (180L, 7.0), (240L, 7.0), (300L, 5.0)),
      s"got ${got.toSeq}")
  }

  test("stepped range funcs use overlapping windows") {
    // count_over_time(click[2m]) at 60s steps over the same synthetic
    // table: window (t-120s, t] — overlapping, unlike tumbling buckets
    val t0 = 1704067200L
    val tmp = SparkFixture.tmp("promql_stepped_events")
    val spec = Promql.EvalSpec(t0, t0 + 300L, 60L)
    val got = Promql.queryAt(spark, tmp, "count_over_time(click[2m])", spec)
      .groupBy("step").agg(sum("value").as("n"))
      .collect().map(r => (r.getLong(0) - t0, r.getDouble(1))).sortBy(_._1)
    // t0 samples (3) serve steps 0,60; the t0+120 sample serves 120,180
    assert(got.toSeq === Seq((0L, 3.0), (60L, 3.0), (120L, 1.0), (180L, 1.0)),
      s"got ${got.toSeq}")
  }

  test("stepped evaluation pushes the query's time range to the parquet scan") {
    // a one-day queryAt over a multi-year table must not scan the whole
    // history: both ts_ns bounds reach the scan as PushedFilters
    val spec = Promql.EvalSpec(1704067200L, 1704153600L, 3600L, 7200L)
    val plan = SparkFixture.planOf(
      Promql.queryAt(spark, sf, "sum(click)", spec))
    val loNs = (spec.startSec - spec.lookbackSec) * 1000000000L
    val hiNs = spec.endSec * 1000000000L
    assert(SparkFixture.tsLowerPushed(plan, loNs),
      s"lower ts bound not pushed:\n$plan")
    assert(SparkFixture.tsUpperPushed(plan, hiNs),
      s"upper ts bound not pushed:\n$plan")
    // a range function pushes (start − range) instead of lookback
    val planR = SparkFixture.planOf(
      Promql.queryAt(spark, sf, "count_over_time(click[1h])", spec))
    assert(SparkFixture.tsLowerPushed(planR, (spec.startSec - 3600L) * 1000000000L),
      s"range-window lower bound not pushed:\n$planR")
    // offset un-shifts the pushed bound (step t reads t − offset data)
    val planO = SparkFixture.planOf(
      Promql.queryAt(spark, sf, "count_over_time(click[1h] offset 1h)", spec))
    assert(SparkFixture.tsUpperPushed(planO, (spec.endSec - 3600L) * 1000000000L),
      s"offset upper bound not pushed:\n$planO")
    // and the bounded evaluation returns the same rows as before
    val got = Promql.queryAt(spark, sf, "sum(click)", spec)
    assert(got.count() > 0)
  }

  test("review regressions: keyword prefixes, uncastable matchers, mixed windows") {
    // a metric whose name starts with a modifier keyword must parse
    assert(Promql.parse("sum_over_time(purchase[1h]) / online_clicks") ===
      Promql.BinOp("/", Seq.empty,
        Promql.RangeFunc("sum_over_time", Promql.Selector("purchase", Seq.empty), 3600),
        Promql.Selector("online_clicks", Seq.empty)))
    // a != matcher whose value can't be a long keeps ALL rows (PromQL:
    // no label equals "abc"), never poisons the filter to empty
    val all = Promql.query(spark, sf, """count_over_time(click[1h])""")
    val neg = Promql.query(spark, sf, """count_over_time(click{user_id!="abc"}[1h])""")
    assert(neg.count() === all.count())
    // an = matcher that can't cast (or isn't canonical) matches nothing
    assert(Promql.query(spark, sf,
      """count_over_time(click{user_id="abc"}[1h])""").count() === 0)
    assert(Promql.query(spark, sf,
      """count_over_time(click{user_id="05"}[1h])""").count() === 0)
    // mixed range windows in one tumbling binary op are rejected
    val e = intercept[IllegalArgumentException](Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) / sum_over_time(click[30m])"))
    assert(e.getMessage.contains("queryAt"))
    // division guards must actually face a zero denominator to count:
    // 0 * vector manufactures all-zero values; dividing by them must
    // yield an EMPTY frame (not null-valued rows), either side
    val zeros = Promql.query(spark, sf, "0 * sum_over_time(purchase[1h])")
    assert(zeros.count() > 0 && zeros.filter(col("value") =!= 0.0).count() === 0)
    val inv = Promql.query(spark, sf, "1 / (0 * sum_over_time(purchase[1h]))")
    assert(inv.count() === 0, "scalar / zero-vector must drop, not null")
    val div0 = Promql.query(spark, sf, "sum_over_time(purchase[1h]) / 0")
    assert(div0.count() === 0, "vector / 0 must drop, not null")
  }

  test("cross-series aggregations: quantile, stddev, stdvar") {
    val in = Promql.query(spark, sf, "count_over_time(click[1h])")
    // quantile(0.5): per step, the stored value at ceil(n/2) in sort order
    val med = Promql.query(spark, sf, "quantile(0.5, count_over_time(click[1h]))")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val perStep = in.collect().groupBy(_.getLong(0))
    perStep.foreach { case (step, rows) =>
      val vals = rows.map(_.getDouble(2)).sorted
      val expect = vals(math.max(1, math.ceil(vals.length * 0.5).toInt) - 1)
      assert(med(step) === expect, s"step $step")
    }
    // quantile(0) = min, quantile(1) = max
    val q0 = Promql.query(spark, sf, "quantile(0, count_over_time(click[1h]))")
    val mn = Promql.query(spark, sf, "min(count_over_time(click[1h]))")
    assert(q0.exceptAll(mn).count() === 0 && mn.exceptAll(q0).count() === 0)
    val q1 = Promql.query(spark, sf, "quantile(1, count_over_time(click[1h]))")
    val mx = Promql.query(spark, sf, "max(count_over_time(click[1h]))")
    assert(q1.exceptAll(mx).count() === 0 && mx.exceptAll(q1).count() === 0)
    // stddev^2 == stdvar (both population), nonnegative
    val sd = Promql.query(spark, sf, "stddev(count_over_time(click[1h]))")
      .withColumnRenamed("value", "sd")
    val sv = Promql.query(spark, sf, "stdvar(count_over_time(click[1h]))")
    val both = sd.join(sv, "step")
    assert(both.filter(abs(col("sd") * col("sd") - col("value")) > 1e-9).count() === 0)
    assert(sd.filter(col("sd") < 0).count() === 0)
  }

  test("math functions are projections: abs, clamp, round") {
    val base = Promql.query(spark, sf, "avg_over_time(purchase[1h])")
    val clamped = Promql.query(spark, sf, "clamp_max(avg_over_time(purchase[1h]), 50)")
    assert(clamped.filter(col("value") > 50.0).count() === 0)
    assert(clamped.count() === base.count())
    // round must reproduce Prometheus's inverse-multiply formula exactly
    val rounded = Promql.query(spark, sf, "round(avg_over_time(purchase[1h]), 10)")
      .withColumnRenamed("value", "r")
      .join(base, Seq("step", "user_id"))
    val inv = 1.0 / 10.0
    val mismatches = rounded.collect().count { row =>
      val expect = math.floor(row.getAs[Double]("value") * inv + 0.5) / inv
      java.lang.Double.doubleToRawLongBits(row.getAs[Double]("r")) !=
        java.lang.Double.doubleToRawLongBits(expect)
    }
    assert(mismatches === 0)
    // parser guards: zero to_nearest, negative bounds, abs arity
    assert(intercept[IllegalArgumentException](
      Promql.parse("round(click, 0)")).getMessage.contains("to_nearest"))
    assert(Promql.parse("clamp_min(click, -5.5)") ===
      Promql.MathFn("clamp_min", Promql.Selector("click", Seq.empty), -5.5))
    assert(intercept[IllegalArgumentException](
      Promql.parse("abs(click, 5)")).getMessage.contains("one argument"))
    // abs of a subtraction: |x - 1000| is strictly positive here
    val a = Promql.query(spark, sf, "abs(avg_over_time(purchase[1h]) - 1000)")
    assert(a.filter(col("value") < 0.0).count() === 0)
    assert(a.count() === base.count())
    // clamp_min/clamp_max require the bound
    val e = intercept[IllegalArgumentException](Promql.parse("clamp_min(click)"))
    assert(e.getMessage.contains("bound"))
  }

  test("round-4 verbs are parser-reachable and consistent") {
    assert(Promql.parse("quantile_over_time(0.5, click[1d])") ===
      Promql.RangeFunc("quantile_over_time", Promql.Selector("click", Seq.empty), 86400L, 0.5))
    assert(Promql.parse("histogram_quantile(0.9, count_over_time(click[1h]))") ===
      Promql.Agg("quantile", Seq.empty,
        Promql.RangeFunc("count_over_time", Promql.Selector("click", Seq.empty), 3600L),
        q = 0.9))
    assert(Promql.parse("""absent(error{user_id="1"})""") ===
      Promql.AbsentFn(Promql.Selector("error", Seq(("user_id", "=", "1")))))
    // quantile_over_time bounds: q=0 is min, q=1 is max
    val q0 = Promql.query(spark, sf, "quantile_over_time(0, click[1d])")
    val mn = Promql.query(spark, sf, "min_over_time(click[1d])")
    assert(q0.exceptAll(mn).count() === 0 && mn.exceptAll(q0).count() === 0)
    val q1 = Promql.query(spark, sf, "quantile_over_time(1, click[1d])")
    val mx = Promql.query(spark, sf, "max_over_time(click[1d])")
    assert(q1.exceptAll(mx).count() === 0 && mx.exceptAll(q1).count() === 0)
    // changes bounds resets pointwise, over the same series-windows
    val ch = Promql.query(spark, sf, "changes(purchase[1d])").withColumnRenamed("value", "c")
    val rs = Promql.query(spark, sf, "resets(purchase[1d])")
    val j = ch.join(rs, Seq("step", "user_id"))
    assert(j.filter(col("value") > col("c")).count() === 0)
    assert(ch.count() === rs.count())
    // stddev^2 == stdvar, both population
    val sd = Promql.query(spark, sf, "stddev_over_time(click[1d])")
      .withColumnRenamed("value", "sd")
    val sv = Promql.query(spark, sf, "stdvar_over_time(click[1d])")
    val b = sd.join(sv, Seq("step", "user_id"))
    assert(b.filter(abs(col("sd") * col("sd") - col("value")) > 1e-9).count() === 0)
    // absent: value 1 at exactly the hours with no matching samples
    val ab = Promql.query(spark, sf, """absent(error{user_id="1"})""")
    assert(ab.filter(col("value") =!= 1.0).count() === 0)
    val present = Promql.query(spark, sf, """count_over_time(error{user_id="1"}[1h])""")
      .select("step").distinct()
    assert(ab.select("step").intersect(present).count() === 0)
    // the verbs also evaluate at stepped specs (overlapping windows)
    val spec = Promql.EvalSpec(1704067200L, 1704110400L, 21600L)
    assert(Promql.queryAt(spark, sf, "delta(purchase[12h])", spec).count() > 0)
    assert(Promql.queryAt(spark, sf, "last_over_time(click[6h])", spec).count() > 0)
    assert(Promql.queryAt(spark, sf, """absent(error{user_id="1"})""", spec)
      .columns.toSeq === Seq("step", "value"))
  }

  test("comparison and set operators: filter, bool, and/unless/or, topk by") {
    val base = Promql.query(spark, sf, "sum_over_time(click[1h])")
    // vector > scalar filters, keeping original values and schema
    val gt = Promql.query(spark, sf, "sum_over_time(click[1h]) > 500")
    assert(gt.columns.toSeq === base.columns.toSeq)
    assert(gt.filter(col("value") <= 500.0).count() === 0)
    assert(gt.count() === base.filter(col("value") > 500.0).count())
    // bool emits 1/0 over the full frame
    val b = Promql.query(spark, sf, "sum_over_time(click[1h]) > bool 500")
    assert(b.count() === base.count())
    assert(b.filter(col("value") =!= 0.0 && col("value") =!= 1.0).count() === 0)
    assert(b.filter(col("value") === 1.0).count() === gt.count())
    // scalar-left comparison flips the operand order
    val lt = Promql.query(spark, sf, "500 < sum_over_time(click[1h])")
    assert(lt.count() === gt.count())
    // and == semi, unless == anti; they partition the lhs
    val both = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) and on(user_id) sum_over_time(click[1h])")
    val only = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) unless on(user_id) sum_over_time(click[1h])")
    val lhs = Promql.query(spark, sf, "sum_over_time(purchase[1h])")
    assert(both.count() + only.count() === lhs.count())
    assert(both.intersect(only).count() === 0)
    // or: lhs rows win, unmatched rhs rows are appended
    val or = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) or sum_over_time(click[1h])")
    val rhs = Promql.query(spark, sf, "sum_over_time(click[1h])")
    val rhsOnly = rhs.join(lhs.select("step", "user_id"), Seq("step", "user_id"), "left_anti")
    assert(or.count() === lhs.count() + rhsOnly.count())
    assert(or.exceptAll(lhs.union(rhsOnly)).count() === 0)
    // vector-vector comparison filters the lhs by the matched rhs value
    val vv = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) > on(user_id) sum_over_time(click[1h])")
    val joined = lhs.withColumnRenamed("value", "p")
      .join(rhs.withColumnRenamed("value", "c"), Seq("step", "user_id"))
    assert(vv.count() === joined.filter(col("p") > col("c")).count())
    // topk by(...) parses and ranks within each group key
    assert(Promql.parse("topk by (user_id) (1, sum_over_time(click[1h]))") ===
      Promql.Agg("topk", Seq("user_id"),
        Promql.RangeFunc("sum_over_time", Promql.Selector("click", Seq.empty), 3600L), 1))
    val tb = Promql.query(spark, sf, "topk by (user_id) (1, sum_over_time(click[1h]))")
    // grouping by the only label makes every series its own group of 1
    assert(tb.count() === base.count())
  }

  test("extrapolated rate matches the hand-computed Prometheus formula") {
    import spark.implicits._
    val t0 = 1704067200L
    // series 1: samples at t0+10/70/130, values 10→12→15 (inc 5);
    // series 2: first value 1 near zero at t0+40/100/160, 1→3→5 (inc 4,
    //   start-side gap capped at the implied zero crossing);
    // series 3: ONE sample — Prometheus emits nothing for it
    val rows = Seq(
      (1L, t0 + 10L, 10.0, 1L), (1L, t0 + 70L, 12.0, 2L), (1L, t0 + 130L, 15.0, 3L),
      (2L, t0 + 40L, 1.0, 4L), (2L, t0 + 100L, 3.0, 5L), (2L, t0 + 160L, 5.0, 6L),
      (3L, t0 + 90L, 7.0, 7L),
      // series 4 pins the funcRate ORDER: raw start gap 100 >= threshold
      // 66 clamps to avg/2 = 30 FIRST; the zero crossing 60·(1.8/2) = 54
      // then cannot raise it back (pre-clamp min would have given 54)
      (4L, t0 + 100L, 1.8, 8L), (4L, t0 + 160L, 3.8, 9L))
      .toDF("user_id", "sec", "value", "event_id")
    val tmp = SparkFixture.tmp("promql_extrap_events")
    rows.select(col("event_id"), (col("sec") * 1000000000L).as("ts"), col("user_id"),
      lit("click").as("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // one evaluation step at t0+180, window (t0, t0+180]
    val spec = Promql.EvalSpec(t0 + 180L, t0 + 180L, 60L)
    val got = Promql.queryAt(spark, tmp, "increase_extrapolated(click[3m])", spec)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // series 1: sampledInterval=120, avg=60, thr=66; durStart=10 (<thr,
    //   zero crossing at 120·(10/5)=240 doesn't bind), durEnd=50 (<thr)
    //   → factor (120+10+50)/120 = 1.5 → increase 5·1.5 = 7.5
    assert(math.abs(got(1L) - 7.5) < 1e-12, s"got ${got.get(1L)}")
    // series 2: durStart raw 40, zero crossing 120·(1/4)=30 binds;
    //   durEnd=20 → factor (120+30+20)/120 → increase 4·170/120
    assert(math.abs(got(2L) - 4.0 * 170.0 / 120.0) < 1e-12, s"got ${got.get(2L)}")
    // series 3: single sample → no output
    assert(!got.contains(3L))
    // series 4: clamp-then-zero-cap order → 30, factor (60+30+20)/60
    assert(math.abs(got(4L) - 2.0 * 110.0 / 60.0) < 1e-12, s"got ${got.get(4L)}")
    // rate = increase / range, same rows
    val rate = Promql.queryAt(spark, tmp, "rate_extrapolated(click[3m])", spec)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(math.abs(rate(1L) - 7.5 / 180.0) < 1e-15)
    assert(rate.size === 3)
    // the far-edge branch: last sample far from the window end pads by
    // avg/2. Window (t0+120, t0+300] catches only series 1's t0+130 and
    // series 2's t0+160 — one sample each → nothing; tumbling eval over
    // the same data exercises the [step, step+W) bounds instead
    val tumb = Promql.query(spark, tmp, "increase_extrapolated(click[1h])")
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    // series 1 in hour bucket: first 10s from start (<thr 66), last at
    // 130 → durEnd = 3600−130 = 3470 ≥ thr → avg/2 = 30
    //   → factor (120+10+30)/120 → 5·160/120
    assert(math.abs(tumb(1L) - 5.0 * 160.0 / 120.0) < 1e-12, s"got ${tumb.get(1L)}")
  }

  test("group_right mirrors group_left with the sides swapped") {
    val gl = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) / ignoring(user_id) group_left sum(sum_over_time(purchase[1h]))")
    val gr = Promql.query(spark, sf,
      "sum(sum_over_time(purchase[1h])) / ignoring(user_id) group_right sum_over_time(purchase[1h])")
    assert(gr.columns.toSeq === gl.columns.toSeq)
    // gl is share per user; gr is total/user value — their product is 1
    val j = gl.withColumnRenamed("value", "a").join(gr, Seq("step", "user_id"))
    assert(j.filter(abs(col("a") * col("value") - 1.0) > 1e-9).count() === 0)
    assert(gr.count() === gl.count())
  }

  test("@ modifier pins evaluation time; value replicated across the grid") {
    val t0 = 1704067200L
    val tmp = SparkFixture.tmp("promql_stepped_events") // written above
    val spec = Promql.EvalSpec(t0, t0 + 300L, 60L, lookbackSec = 300L)
    // instant at t0: the three series' 1.0 samples — sum 3 at EVERY step
    val at = Promql.queryAt(spark, tmp, "sum(click @ " + t0 + ")", spec)
      .collect().map(r => (r.getLong(0) - t0, r.getDouble(1))).sortBy(_._1)
    assert(at.toSeq === (0 to 5).map(i => (i * 60L, 3.0)), s"got ${at.toSeq}")
    // range function pinned at t0+120: window (t0, t0+120] holds only
    // series 1's newer sample
    val cnt = Promql.queryAt(spark, tmp,
      s"count_over_time(click[2m] @ ${t0 + 120})", spec)
      .groupBy("step").agg(sum("value").as("n")).collect()
      .map(r => (r.getLong(0) - t0, r.getDouble(1))).sortBy(_._1)
    assert(cnt.toSeq === (0 to 5).map(i => (i * 60L, 1.0)), s"got ${cnt.toSeq}")
    // parses in either modifier order; tumbling eval rejects @
    assert(Promql.parse(s"click offset 5m @ $t0") ===
      Promql.Selector("click", Seq.empty, 300L, Some(t0)))
    assert(Promql.parse(s"click @ $t0 offset 5m") ===
      Promql.Selector("click", Seq.empty, 300L, Some(t0)))
    val e = intercept[IllegalArgumentException](
      Promql.query(spark, tmp, s"sum(click @ $t0)"))
    assert(e.getMessage.contains("queryAt"))
  }

  test("subqueries: outer range functions over inner evaluations") {
    val t0 = 1704067200L
    val tmp = SparkFixture.tmp("promql_stepped_events") // written above
    val spec = Promql.EvalSpec(t0 + 240L, t0 + 240L, 60L, lookbackSec = 300L)
    // inner sum(click) on the 1m grid: 3.0 at t0,+60; 7.0 from +120 on.
    // outer window (t0, t0+240] sees inner steps +60..+240 → 3,7,7,7
    def one(q: String): Double = {
      val rows = Promql.queryAt(spark, tmp, q, spec).collect()
      assert(rows.length === 1, s"$q: ${rows.toSeq}")
      rows.head.getDouble(1)
    }
    assert(one("max_over_time(sum(click)[4m:1m])") === 7.0)
    assert(one("min_over_time(sum(click)[4m:1m])") === 3.0)
    assert(one("sum_over_time(sum(click)[4m:1m])") === 24.0)
    assert(one("avg_over_time(sum(click)[4m:1m])") === 6.0)
    assert(one("count_over_time(sum(click)[4m:1m])") === 4.0)
    assert(one("last_over_time(sum(click)[4m:1m])") === 7.0)
    // a per-series subquery keeps the series label
    val per = Promql.queryAt(spark, tmp, "max_over_time(click[4m:1m])", spec)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(per === Map(1L -> 5.0, 2L -> 1.0, 3L -> 1.0), per.toString)
    // parser: nested function as subquery child
    assert(Promql.parse("max_over_time(rate(click[5m])[1h:5m])") ===
      Promql.SubqueryFunc("max_over_time",
        Promql.RangeFunc("rate", Promql.Selector("click", Seq.empty), 300L),
        3600L, 300L))
    // tumbling eval rejects subqueries toward queryAt
    val e = intercept[IllegalArgumentException](
      Promql.query(spark, tmp, "max_over_time(sum(click)[1h:5m])"))
    assert(e.getMessage.contains("queryAt"))
  }

  test("metric-less selectors keep event_type as a series label") {
    val df = Promql.query(spark, sf, """sum_over_time({event_type=~"click|view"}[1h])""")
    assert(df.columns.toSeq === Seq("step", "user_id", "event_type", "value"))
    assert(df.select("event_type").distinct().collect().map(_.getString(0)).toSet
      === Set("click", "view"))
    // equals the union of the two per-metric evaluations
    val c = Promql.query(spark, sf, "sum_over_time(click[1h])")
      .withColumn("event_type", lit("click"))
    val v = Promql.query(spark, sf, "sum_over_time(view[1h])")
      .withColumn("event_type", lit("view"))
    val u = c.unionByName(v).select("step", "user_id", "event_type", "value")
    assert(df.exceptAll(u).count() === 0 && u.exceptAll(df).count() === 0)
    // __name__ maps to the metric column
    assert(Promql.parse("""{__name__="click"}""") ===
      Promql.Selector("", Seq(("event_type", "=", "click"))))
    // by(event_type) aggregation is non-degenerate now
    val by = Promql.query(spark, sf,
      """sum by (event_type)(count_over_time({event_type=~"click|view"}[1h]))""")
    assert(by.columns.toSeq === Seq("step", "event_type", "value"))
    assert(by.select("event_type").distinct().count() === 2)
    // topk by(event_type) ranks within each metric group
    val tk = Promql.query(spark, sf,
      """topk by (event_type) (2, sum_over_time({event_type=~"click|view"}[1h]))""")
    assert(tk.groupBy("step", "event_type").count().filter(col("count") > 2).count() === 0)
    assert(tk.count() > 0)
  }

  test("math functions, time(), scalar(), vector()") {
    val base = Promql.query(spark, sf, "avg_over_time(purchase[1h])")
    // unary math projections compose
    val r = Promql.query(spark, sf, "ceil(sqrt(avg_over_time(purchase[1h])))")
      .withColumnRenamed("value", "r").join(base, Seq("step", "user_id"))
    assert(r.filter(col("r") =!= ceil(sqrt(col("value"))).cast("double")).count() === 0)
    assert(r.count() === base.count())
    val sg = Promql.query(spark, sf, "sgn(avg_over_time(purchase[1h]) - 50)")
    assert(sg.filter(!col("value").isin(-1.0, 0.0, 1.0)).count() === 0)
    // time() as a binop operand: (v*0) + time() == the step, per row
    val t = Promql.query(spark, sf, "sum_over_time(click[1h]) * 0 + time()")
    assert(t.filter(col("value") =!= col("step").cast("double")).count() === 0)
    // scalar() of a one-series-per-step vector: per-user share sums to 1
    val share = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) / scalar(sum(sum_over_time(purchase[1h])))")
    share.groupBy("step").agg(sum("value").as("s")).collect()
      .foreach(row => assert(math.abs(row.getDouble(1) - 1.0) < 1e-6))
    // scalar() of a MULTI-series step is NaN, single-series steps are not
    val nan = Promql.query(spark, sf,
      "sum_over_time(purchase[1h]) * scalar(sum_over_time(purchase[1h]))")
    val cnt = Promql.query(spark, sf, "sum_over_time(purchase[1h])")
      .groupBy("step").count()
    val j = nan.join(cnt, "step")
    assert(j.filter(col("count") > 1 && !isnan(col("value"))).count() === 0)
    assert(j.filter(col("count") === 1 && isnan(col("value"))).count() === 0)
    // stepped grid: vector(2.5) and bare time()
    val spec = Promql.EvalSpec(1704067200L, 1704088800L, 3600L)
    val vec = Promql.queryAt(spark, sf, "vector(2.5)", spec)
    assert(vec.columns.toSeq === Seq("step", "value"))
    assert(vec.count() === 7 && vec.filter(col("value") =!= 2.5).count() === 0)
    val tm = Promql.queryAt(spark, sf, "time()", spec)
    assert(tm.filter(col("value") =!= col("step").cast("double")).count() === 0)
    // tumbling eval rejects grid-needing bare forms
    assert(intercept[IllegalArgumentException](
      Promql.query(spark, sf, "time()")).getMessage.contains("queryAt"))
  }

  test("label_replace and label_join project new labels") {
    val base = Promql.query(spark, sf, "sum_over_time(click[1h])")
    val lr = Promql.query(spark, sf,
      """label_replace(sum_over_time(click[1h]), "shard", "s$1", "user_id", "(\d)\d*")""")
    assert(lr.columns.toSeq === Seq("step", "user_id", "shard", "value"))
    assert(lr.filter(col("shard") =!=
      concat(lit("s"), substring(col("user_id").cast("string"), 1, 1))).count() === 0)
    assert(lr.count() === base.count())
    // the new label is a real grouping key
    val byShard = Promql.query(spark, sf,
      """sum by (shard)(label_replace(sum_over_time(click[1h]), "shard", "s$1", "user_id", "(\d)\d*"))""")
    assert(byShard.columns.toSeq === Seq("step", "shard", "value"))
    assert(byShard.select("shard").distinct().count() <= 10) // s0..s9
    // an unmatched regex leaves dst at its previous value (empty here)
    val nomatch = Promql.query(spark, sf,
      """label_replace(sum_over_time(click[1h]), "shard", "x", "user_id", "xyz")""")
    assert(nomatch.filter(col("shard") =!= "").count() === 0)
    // label_join concatenates label string forms (metric-less keeps event_type)
    val lj = Promql.query(spark, sf,
      """label_join(sum_over_time({event_type=~"click|view"}[1h]), "series", "-", "event_type", "user_id")""")
    assert(lj.filter(col("series") =!=
      concat_ws("-", col("event_type"), col("user_id").cast("string"))).count() === 0)
    // reserved frame columns are not valid label-manipulation targets
    val e = intercept[IllegalArgumentException](Promql.query(spark, sf,
      """label_replace(sum_over_time(click[1h]), "value", "x", "user_id", ".*")"""))
    assert(e.getMessage.contains("reserved"))
  }

  test("@ on absent(): pinned presence decides the whole grid") {
    val t0 = 1704067200L
    val tmp = SparkFixture.tmp("promql_stepped_events") // written above
    val spec = Promql.EvalSpec(t0, t0 + 300L, 60L, lookbackSec = 300L)
    // click has samples in (t0-300, t0] → absent is empty everywhere
    assert(Promql.queryAt(spark, tmp, s"absent(click @ $t0)", spec).count() === 0)
    // a metric that never exists at T → 1 at every one of the 6 steps
    val ab = Promql.queryAt(spark, tmp, s"absent(nosuch @ $t0)", spec)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ab.length === 6 && ab.forall(_._2 === 1.0), ab.toSeq.toString)
  }

  test("irate, idelta, predict_linear, timestamp") {
    // irate/idelta use the LAST TWO samples of each window
    val id = Promql.query(spark, sf, "idelta(click[1w])")
    val ir = Promql.query(spark, sf, "irate(click[1w])")
    assert(id.count() > 0 && ir.count() > 0)
    val counts = Promql.query(spark, sf, "count_over_time(click[1w])")
      .withColumnRenamed("value", "n")
    assert(id.join(counts, Seq("step", "user_id")).filter(col("n") < 2).count() === 0)
    // predict_linear is linear in t: equal t-increments move y equally
    val p0 = Promql.query(spark, sf, "predict_linear(click[1d], 0)")
      .withColumnRenamed("value", "y0")
    val p1 = Promql.query(spark, sf, "predict_linear(click[1d], 100)")
      .withColumnRenamed("value", "y1")
    val p2 = Promql.query(spark, sf, "predict_linear(click[1d], 200)")
      .withColumnRenamed("value", "y2")
    val j = p0.join(p1, Seq("step", "user_id")).join(p2, Seq("step", "user_id"))
    assert(j.filter(abs((col("y2") - col("y1")) - (col("y1") - col("y0"))) > 1e-6)
      .count() === 0)
    assert(p0.count() > 0)
    // timestamp: the newest sample's epoch seconds, within the hour step
    val tsv = Promql.query(spark, sf, "timestamp(purchase)")
    assert(tsv.filter(col("value") < col("step") ||
      col("value") >= col("step") + 3600).count() === 0)
    // stepped evaluation works too — evaluate near the END of the data
    // span so the 1w lookback actually holds >= 2 samples per series
    val spec = Promql.EvalSpec(1704585600L, 1704672000L, 21600L)
    assert(Promql.queryAt(spark, sf, "irate(click[1w])", spec).count() > 0)
    assert(Promql.queryAt(spark, sf, "timestamp(click)", spec).count() > 0)
    assert(Promql.queryAt(spark, sf, "predict_linear(click[1w], 60)", spec).count() > 0)
  }

  test("present/absent_over_time, clamp, time components, group") {
    val pres = Promql.query(spark, sf, "present_over_time(purchase[1d])")
    assert(pres.filter(col("value") =!= 1.0).count() === 0)
    val cnt = Promql.query(spark, sf, "count_over_time(purchase[1d])")
    assert(pres.count() === cnt.count())
    // absent_over_time is disjoint from the windows with samples
    val ab = Promql.query(spark, sf, """absent_over_time(error{user_id="1"}[1d])""")
    val presDays = Promql.query(spark, sf,
      """count_over_time(error{user_id="1"}[1d])""").select("step").distinct()
    assert(ab.select("step").intersect(presDays).count() === 0)
    assert(ab.count() + presDays.count() >= 7) // the 7-day grid is covered
    // clamp bounds both sides; min > max is NaN (Prometheus)
    val cl = Promql.query(spark, sf, "clamp(avg_over_time(purchase[1h]), 30, 60)")
    assert(cl.filter(col("value") < 30.0 || col("value") > 60.0).count() === 0)
    // min > max returns an EMPTY vector (Prometheus funcClamp)
    val empty = Promql.query(spark, sf, "clamp(avg_over_time(purchase[1h]), 60, 30)")
    assert(empty.count() === 0)
    // hour() of a timestamp-valued vector
    val hr = Promql.query(spark, sf, "hour(timestamp(purchase))")
    assert(hr.filter(col("value") < 0.0 || col("value") > 23.0).count() === 0)
    // bare components read the evaluation time: 2024-01-01 is a Monday
    val spec = Promql.EvalSpec(1704067200L, 1704088800L, 3600L)
    val dow = Promql.queryAt(spark, sf, "day_of_week()", spec)
    assert(dow.count() === 7 && dow.filter(col("value") =!= 1.0).count() === 0)
    // day_of_year: 2024-01-01 is day 1 (1-based, like Prometheus)
    val doy = Promql.queryAt(spark, sf, "day_of_year()", spec)
    assert(doy.count() === 7 && doy.filter(col("value") =!= 1.0).count() === 0)
    // group emits 1 per (step, group)
    val grp = Promql.query(spark, sf, "group(count_over_time(click[1h]))")
    assert(grp.columns.toSeq === Seq("step", "value"))
    assert(grp.filter(col("value") =!= 1.0).count() === 0)
  }

  test("holt_winters matches the hand-computed fold; count_values counts") {
    import spark.implicits._
    val t0 = 1704067200L
    // v = 10, 12, 11, 15 with sf = 0.5, tf = 0.3:
    //   s1=10, b=2; i=1: b=2, s1=0.5·12+0.5·12=12
    //   i=2: b=0.3·2+0.7·2=2, s1=0.5·11+0.5·14=12.5
    //   i=3: b=0.3·0.5+0.7·2=1.55, s1=0.5·15+0.5·14.05=14.525
    val rows = Seq((9L, t0 + 10L, 10.0, 21L), (9L, t0 + 20L, 12.0, 22L),
      (9L, t0 + 30L, 11.0, 23L), (9L, t0 + 40L, 15.0, 24L))
      .toDF("user_id", "sec", "value", "event_id")
    val tmp = SparkFixture.tmp("promql_holt_events")
    rows.select(col("event_id"), (col("sec") * 1000000000L).as("ts"), col("user_id"),
      lit("click").as("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val hw = Promql.query(spark, tmp, "holt_winters(click[1h], 0.5, 0.3)").collect()
    assert(hw.length === 1, hw.toSeq.toString)
    assert(math.abs(hw.head.getDouble(2) - 14.525) < 1e-12, hw.head.toString)
    // a single-sample window emits nothing
    val one = Seq((9L, t0 + 10L, 10.0, 21L)).toDF("user_id", "sec", "value", "event_id")
    one.select(col("event_id"), (col("sec") * 1000000000L).as("ts"), col("user_id"),
      lit("click").as("event_type"), col("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    assert(Promql.query(spark, tmp, "holt_winters(click[1h], 0.5, 0.3)").count() === 0)
    // count_values: the value histogram as labeled counts
    val cv = Promql.query(spark, sf, """count_values("cnt", count_over_time(click[1h]))""")
    assert(cv.columns.toSeq === Seq("step", "cnt", "value"))
    val total = cv.agg(sum("value")).collect().head.getDouble(0)
    assert(total === Promql.query(spark, sf, "count_over_time(click[1h])").count().toDouble)
    // factor bounds are parse errors; tf = 1 is legal (Prometheus)
    assert(intercept[IllegalArgumentException](
      Promql.parse("holt_winters(click[1h], 1.5, 0.3)")).getMessage.contains("(0, 1)"))
    assert(Promql.parse("holt_winters(click[1h], 0.5, 1)") ===
      Promql.RangeFunc("holt_winters", Promql.Selector("click", Seq.empty), 3600L, 0.5, 1.0))
    // post-bracket modifiers parse on every range-function form
    assert(Promql.parse("""absent_over_time(error[1d] offset 1d)""") ===
      Promql.AbsentFn(Promql.Selector("error", Seq.empty, 86400L), 86400L))
    assert(Promql.parse("holt_winters(click[1w] offset 1d, 0.5, 0.3)") ===
      Promql.RangeFunc("holt_winters",
        Promql.Selector("click", Seq.empty, 86400L), 604800L, 0.5, 0.3))
    // count_values formats integral values without the trailing .0
    val cv2 = Promql.query(spark, sf, """count_values("cnt", count_over_time(click[1h]))""")
    assert(cv2.filter(col("cnt").contains(".")).count() === 0)
    // ...and rejects label names colliding with RETAINED grouping columns
    val e2 = intercept[IllegalArgumentException](Promql.query(spark, sf,
      """count_values by (user_id) ("user_id", count_over_time(click[1h]))""").collect())
    assert(e2.getMessage.contains("collides"))
  }

  test("parser fidelity: compound durations, scientific notation, escapes") {
    // compound durations are adjacent components
    assert(Promql.parse("rate(click[1h30m])") ===
      Promql.RangeFunc("rate", Promql.Selector("click", Seq.empty), 5400L))
    assert(Promql.parse("count_over_time(click[1d12h])") ===
      Promql.RangeFunc("count_over_time", Promql.Selector("click", Seq.empty), 129600L))
    assert(Promql.parse("click offset 1h30m") ===
      Promql.Selector("click", Seq.empty, 5400L))
    // whitespace does NOT join components
    val e = intercept[IllegalArgumentException](Promql.parse("rate(click[1h 30m])"))
    assert(e.getMessage.contains("expected"))
    // ms is rejected toward the whole-second grid
    assert(intercept[IllegalArgumentException](
      Promql.parse("rate(click[500ms])")).getMessage.contains("sub-second"))
    // scientific-notation scalars
    assert(Promql.parse("sum(click) * 2e3") ===
      Promql.BinOp("*", Seq.empty, Promql.Agg("sum", Seq.empty,
        Promql.Selector("click", Seq.empty)), Promql.Scalar(2000.0)))
    assert(Promql.parse("sum(click) + 1.5E-2") ===
      Promql.BinOp("+", Seq.empty, Promql.Agg("sum", Seq.empty,
        Promql.Selector("click", Seq.empty)), Promql.Scalar(0.015)))
    // a bare 'e' after digits is not an exponent
    assert(Promql.parse("2 * errors") ===
      Promql.BinOp("*", Seq.empty, Promql.Scalar(2.0),
        Promql.Selector("errors", Seq.empty)))
    // escaped quotes and backslashes in matcher values
    assert(Promql.parse("""click{props="a\"b\\c"}""") ===
      Promql.Selector("click", Seq(("props", "=", "a\"b\\c"))))
  }

  test("offset shifts the evaluation window") {
    val plain = Promql.query(spark, sf, "sum(count_over_time(click[1h]))")
    val off = Promql.query(spark, sf, "sum(count_over_time(click[1h] offset 1h))")
    // offset 1h reports each hour's data one step later
    val shifted = plain.withColumn("step", col("step") + 3600L)
    assert(off.exceptAll(shifted).count() === 0)
    assert(shifted.exceptAll(off).count() === 0)
  }

  test("negative offset looks forward") {
    import Promql._
    assert(parse("click offset -1h") ===
      Selector("click", Seq.empty, offsetSec = -3600L))
    val plain = Promql.query(spark, sf, "sum(count_over_time(click[1h]))")
    val off = Promql.query(spark, sf, "sum(count_over_time(click[1h] offset -1h))")
    // offset -1h reports each hour's data one step earlier
    val shifted = plain.withColumn("step", col("step") - 3600L)
    assert(off.exceptAll(shifted).count() === 0)
    assert(shifted.exceptAll(off).count() === 0)
  }

  test("group_left(label) carries one-side labels into the result") {
    import Promql._
    val q = """sum_over_time(click[1h]) * on(user_id) group_left(tier) label_replace(sum_over_time(purchase[1h]), "tier", "t$1", "user_id", "(\d)\d*")"""
    parse(q) match {
      case BinOp("*", Seq("user_id"), _, _: LabelReplace, _, true, false, false, carry) =>
        assert(carry === Seq("tier"))
      case other => fail(s"unexpected AST: $other")
    }
    val df = Promql.query(spark, sf, q)
    assert(df.columns.toSeq === Seq("step", "user_id", "tier", "value"))
    // tier is the one side's label: t<first digit of user_id>
    assert(df.filter(col("tier") =!= concat(lit("t"),
      substring(col("user_id").cast("string"), 1, 1))).count() === 0)
    // values = product of the two sides, labels from the many side
    val l = Promql.query(spark, sf, "sum_over_time(click[1h])")
    val r = Promql.query(spark, sf, "sum_over_time(purchase[1h])")
      .withColumnRenamed("value", "rv")
    val expect = l.join(r, Seq("step", "user_id"))
      .select(col("step"), col("user_id"), (col("value") * col("rv")).as("value"))
    assert(df.drop("tier").exceptAll(expect).count() === 0)
    assert(expect.exceptAll(df.drop("tier")).count() === 0)
  }

  test("operator precedence ladder parses as Prometheus") {
    import Promql._
    val a = RangeFunc("sum_over_time", Selector("click", Seq.empty), 3600)
    val b = RangeFunc("sum_over_time", Selector("purchase", Seq.empty), 3600)
    // * binds tighter than + (the old flat parser computed (a + b) * 2)
    assert(parse("sum_over_time(click[1h]) + sum_over_time(purchase[1h]) * 2") ===
      BinOp("+", Seq.empty, a, BinOp("*", Seq.empty, b, Scalar(2))))
    // comparison binds tighter than `and`: a and (b > 40)
    assert(parse("sum_over_time(click[1h]) and sum_over_time(purchase[1h]) > 40") ===
      BinOp("and", Seq.empty, a, BinOp(">", Seq.empty, b, Scalar(40))))
    // `and` binds tighter than `or`
    assert(parse("sum_over_time(click[1h]) or sum_over_time(purchase[1h]) and sum_over_time(click[1h])") ===
      BinOp("or", Seq.empty, a, BinOp("and", Seq.empty, b, a)))
    // + binds tighter than comparison: (a + 1) > 40
    assert(parse("sum_over_time(click[1h]) + 1 > 40") ===
      BinOp(">", Seq.empty, BinOp("+", Seq.empty, a, Scalar(1)), Scalar(40)))
    // ^ binds tighter than * and is right-associative
    assert(parse("2 * sum_over_time(click[1h]) ^ 2") ===
      BinOp("*", Seq.empty, Scalar(2), BinOp("^", Seq.empty, a, Scalar(2))))
    assert(parse("sum_over_time(click[1h]) ^ 2 ^ 3") ===
      BinOp("^", Seq.empty, a, BinOp("^", Seq.empty, Scalar(2), Scalar(3))))
    // % shares the * level
    assert(parse("sum_over_time(click[1h]) % 7 + 1") ===
      BinOp("+", Seq.empty, BinOp("%", Seq.empty, a, Scalar(7)), Scalar(1)))
    // parenthesization still overrides
    assert(parse("(sum_over_time(click[1h]) + sum_over_time(purchase[1h])) * 2") ===
      BinOp("*", Seq.empty, BinOp("+", Seq.empty, a, b), Scalar(2)))
  }

  test("unary minus desugars to 0 - expr and folds scalars") {
    import Promql._
    val a = RangeFunc("sum_over_time", Selector("click", Seq.empty), 3600)
    assert(parse("-sum_over_time(click[1h])") ===
      BinOp("-", Seq.empty, Scalar(0), a))
    assert(parse("-5") === Scalar(-5))
    assert(parse("--5") === Scalar(5))
    assert(parse("+sum_over_time(click[1h])") === a)
    // unary binds looser than ^: -2^2 = -(2^2); tighter than *
    assert(parse("2 * -sum_over_time(click[1h])") ===
      BinOp("*", Seq.empty, Scalar(2),
        BinOp("-", Seq.empty, Scalar(0), a)))
    // x^-1 parses (unary exponent)
    assert(parse("sum_over_time(click[1h]) ^ -1") ===
      BinOp("^", Seq.empty, a, Scalar(-1)))
    // evaluation: -x is exactly 0 - x, labels preserved
    val neg = Promql.query(spark, sf, "-sum_over_time(click[1h])")
    val pos = Promql.query(spark, sf, "sum_over_time(click[1h])")
      .withColumn("value", lit(0.0) - col("value"))
    assert(neg.exceptAll(pos).count() === 0)
    assert(pos.exceptAll(neg).count() === 0)
  }

  test("derived label k threads through selectors, matchers and grouping") {
    import Promql._
    // post-parse rewrite: only queries referencing k carry it
    assert(parse("sum_over_time(click[1h])") ===
      RangeFunc("sum_over_time", Selector("click", Seq.empty), 3600))
    assert(parse("sum by (k) (sum_over_time(click[1h]))") ===
      Agg("sum", Seq("k"), RangeFunc("sum_over_time",
        Selector("click", Seq.empty, extraLabels = Seq("k")), 3600)))
    assert(parse("""click{k="42"}""") ===
      Selector("click", Seq(("k", "=", "42")), extraLabels = Seq("k")))
    // evaluation carries k as a real series label
    val grouped = Promql.query(spark, sf, "sum by (k) (count_over_time(click[1d]))")
    assert(grouped.columns.toSeq === Seq("step", "k", "value"))
    assert(grouped.select("k").distinct().count() > 1)
    // equality matcher on k restricts the series set
    val one = Promql.query(spark, sf, """count_over_time(click{k="42"}[1d])""")
    assert(one.select("k").distinct().collect().map(_.getString(0)).toSeq === Seq("42"))
    // a query that does NOT reference k reads neither k nor props
    val plain = Promql.query(spark, sf, "count_over_time(click[1d])")
    assert(!plain.columns.contains("k"))
    val schemaLine = SparkFixture.planOf(plain)
      .linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!schemaLine.contains("props"), s"props must be pruned:\n$schemaLine")
  }

  test("chunk-backed evaluation equals the row store, including tie order") {
    import graft.operators.ChunkSource
    // order-independent agg, order-SENSITIVE verb (irate picks the last
    // two samples by (ts, event_id)), and a stepped range query: the
    // XOR chunk pipeline must reproduce the row-store results exactly
    val spec = Promql.EvalSpec(1704067200L, 1704153600L, 3600L, 7200L)
    val cases: Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
      (Promql.query(spark, sf, "sum(count_over_time(click[1h]))"),
        Promql.query(spark, sf, "sum(count_over_time(click[1h]))", ChunkSource)),
      (Promql.query(spark, sf, "irate(click[1w])"),
        Promql.query(spark, sf, "irate(click[1w])", ChunkSource)),
      (Promql.queryAt(spark, sf, "sum(click)", spec),
        Promql.queryAt(spark, sf, "sum(click)", spec, ChunkSource)))
    cases.zipWithIndex.foreach { case ((rows, chunks), i) =>
      assert(rows.exceptAll(chunks).count() === 0, s"case $i: rows-only results")
      assert(chunks.exceptAll(rows).count() === 0, s"case $i: chunk-only results")
      assert(rows.count() > 0, s"case $i must be non-empty")
    }
  }

  test("chunk-backed offset evaluation equals the row store") {
    import graft.operators.ChunkSource
    // offset shifts the pushed bounds before they meet mint/maxt —
    // the chunk path must shift identically
    val q = "sum_over_time(click[1h] offset 1h)"
    val rows = Promql.query(spark, sf, q)
    val chunks = Promql.query(spark, sf, q, ChunkSource)
    assert(rows.exceptAll(chunks).count() === 0)
    assert(chunks.exceptAll(rows).count() === 0)
    assert(rows.count() > 0)
  }

  test("chunk-backed stepped evaluation prunes chunks by mint/maxt stats") {
    import graft.operators.ChunkSource
    val spec = Promql.EvalSpec(1704067200L, 1704153600L, 3600L, 7200L)
    val plan = SparkFixture.planOf(
      Promql.queryAt(spark, sf, "sum(click)", spec, ChunkSource))
    // the reference's overlap test (mint <= hi && maxt >= lo,
    // prometheus/querier.go:71-74) must reach the chunk table's parquet
    // scan, where the sorted layout's min/max stats skip row groups
    val loUs = (spec.startSec - spec.lookbackSec) * 1000000L
    val hiUs = spec.endSec * 1000000L
    assert(plan.contains(s"LessThanOrEqual(mint,$hiUs)"),
      s"mint bound not pushed to the chunk scan:\n$plan")
    assert(plan.contains(s"GreaterThanOrEqual(maxt,$loUs)"),
      s"maxt bound not pushed to the chunk scan:\n$plan")
  }

  test("trig family and pi() evaluate") {
    import Promql._
    assert(parse("pi()") === Scalar(math.Pi))
    val base = Promql.query(spark, sf, "sum_over_time(click[1h])")
    val got = Promql.query(spark, sf, "cos(sum_over_time(click[1h]))")
    val expect = base.withColumn("value", cos(col("value")))
    assert(got.exceptAll(expect).count() === 0)
    // hyperbolic + inverse members parse and evaluate (rows preserved)
    Seq("tan", "asin", "acos", "atan", "sinh", "cosh", "tanh",
      "asinh", "deg", "rad").foreach { fn =>
      assert(Promql.query(spark, sf, s"$fn(tanh(sum_over_time(click[1h])))").count()
        === base.count(), fn)
    }
    // atanh of tanh-compressed values round-trips finitely
    assert(Promql.query(spark, sf,
      "atanh(tanh(sum_over_time(click[1h])))").filter(col("value").isNull).count() === 0)
  }

  test("mod, pow and atan2 evaluate with Prometheus semantics") {
    val base = Promql.query(spark, sf, "sum_over_time(click[1h])")
    // % follows the dividend's sign (fmod); zero modulus drops rows
    val mod = Promql.query(spark, sf, "sum_over_time(click[1h]) % 7")
    val expectMod = base.withColumn("value", col("value") % 7.0)
    assert(mod.exceptAll(expectMod).count() === 0)
    assert(Promql.query(spark, sf, "sum_over_time(click[1h]) % 0").count() === 0)
    // ^ is pow
    val sq = Promql.query(spark, sf, "sum_over_time(click[1h]) ^ 2")
    val expectSq = base.withColumn("value", pow(col("value"), 2.0))
    assert(sq.exceptAll(expectSq).count() === 0)
    // vector atan2 scalar — quadrant-correct signs
    val at = Promql.query(spark, sf, "sum_over_time(click[1h]) atan2 1")
    val expectAt = base.withColumn("value", atan2(col("value"), lit(1.0)))
    assert(at.exceptAll(expectAt).count() === 0)
  }

  test("sort/sort_desc materialize the value order as a rank per step") {
    assert(Promql.parse("sort_desc(sum_over_time(click[1h]))") ===
      Promql.SortFn(Promql.RangeFunc("sum_over_time",
        Promql.Selector("click", Seq.empty), 3600), desc = true))
    val base = Promql.query(spark, sf, "sum_over_time(click[1h])")
    val asc = Promql.query(spark, sf, "sort(sum_over_time(click[1h]))")
    val desc = Promql.query(spark, sf, "sort_desc(sum_over_time(click[1h]))")
    // sort only ADDS rank: the (step, labels, value) content is the child's
    assert(asc.drop("rank").exceptAll(base).count() === 0)
    assert(base.exceptAll(asc.drop("rank")).count() === 0)
    // ranks are a permutation 1..n within each step
    val perStep = asc.groupBy("step")
      .agg(count(lit(1)).as("n"), max("rank").as("mx"), min("rank").as("mn"),
        countDistinct("rank").as("d"))
    assert(perStep.filter(col("mx") =!= col("n") || col("mn") =!= 1 ||
      col("d") =!= col("n")).count() === 0)
    // ascending rank is monotone in value; sort_desc is its mirror
    val rows = asc.orderBy("step", "rank").collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val vals = rs.sortBy(_.getInt(rs.head.length - 1)).map(_.getDouble(2))
      assert(vals.sameElements(vals.sorted), "rank must follow value asc")
    }
    val dRows = desc.orderBy("step", "rank").collect()
    dRows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val vals = rs.sortBy(_.getInt(rs.head.length - 1)).map(_.getDouble(2))
      assert(vals.sameElements(vals.sorted.reverse), "rank must follow value desc")
    }
  }

  test("mad_over_time agrees with the standalone madOverTime kernel") {
    // the PromQL verb (histogram-pick medians, user_id labels over the
    // click selector) must agree with TimeSeries.madOverTime (rank-pick
    // medians over every (day, user, type) series) on the click slice —
    // two independent discrete-median implementations, one answer
    val verb = Promql.query(spark, sf, "mad_over_time(click[1d])")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val kernel = graft.operators.TimeSeries.madOverTime(spark, sf)
      .filter(col("event_type") === "click")
      .select("step", "user_id", "mad")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(verb.nonEmpty)
    assert(verb === kernel)
  }

  test("limitk keeps the hash-first series per step; limit_ratio partitions exactly") {
    val baseQ = "avg_over_time(click[1h])"
    val base = Promql.query(spark, sf, baseQ).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // driver-side salted hash order (the deterministic-keep contract)
    def h(uid: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("lk:\u0001" + uid.toString).getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val lk = Promql.query(spark, sf, s"limitk(10, $baseQ)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // per step: exactly the 10 present series with the smallest hash
    base.groupBy(_._1).foreach { case (step, rows) =>
      val want = rows.sortBy(r => (h(r._2), r._2)).take(10).toSet
      val got = lk.filter(_._1 == step).toSet
      assert(got === want, s"step $step")
    }
    // limit_ratio: r and r−1 partition the vector exactly
    val a = Promql.query(spark, sf, s"limit_ratio(0.3, $baseQ)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Promql.query(spark, sf, s"limit_ratio(-0.7, $baseQ)").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a.nonEmpty && b.nonEmpty)
    assert((a & b).isEmpty, "r and r-1 selections must be disjoint")
    assert((a | b) === base.toSet, "r and r-1 must cover the vector")
    // a kept series is kept at EVERY step it exists in
    val keptUsers = a.map(_._2)
    assert(base.filter(r => keptUsers.contains(r._2)).toSet === a)
  }

  test("double_exponential_smoothing is the 3.x spelling of holt_winters") {
    val a = Promql.query(spark, sf, "holt_winters(purchase[1w], 0.5, 0.3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Promql.query(spark, sf,
        "double_exponential_smoothing(purchase[1w], 0.5, 0.3)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a.nonEmpty)
    assert(a === b)
  }

  test("sort_by_label ranks by the label STRING, not numerically") {
    val df = Promql.query(spark, sf,
      """sort_by_label(sum_over_time(click[1h]), "user_id")""")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    rows.groupBy(_._1).foreach { case (step, rs) =>
      val inOrder = rs.sortBy(_._3).map(_._2.toString)
      assert(inOrder.sameElements(inOrder.sorted),
        s"step $step: label order must be lexicographic")
    }
    // the string/numeric distinction is REAL on this corpus: some step
    // must rank a numerically-larger user before a smaller one
    val proof = rows.groupBy(_._1).exists { case (_, rs) =>
      val o = rs.sortBy(_._3).map(_._2)
      o.zip(o.tail).exists { case (a, b) => a > b }
    }
    assert(proof, "corpus must exhibit string-vs-numeric divergence")
  }

  test("sorts thread label bookkeeping: created labels under sort(), payload labels as sort keys") {
    // ADVICE r16: SortFn/SortByLabel fell through createdLabels /
    // referencedLabels — a label_replace under sort() lost its
    // created-label exemption (pre-materialized from props at the
    // scan), and a payload label named ONLY as a sort_by_label key was
    // never threaded, so multi-label recorded rules could not sort on
    // their stored labels.
    val inner = """label_replace(sum by (user_id)(count_over_time(click[1d])), "tier", "t$1", "user_id", "(.*)")"""
    val sorted = Promql.query(spark, sf, s"sort_desc($inner)")
    val plain = Promql.query(spark, sf, inner)
    assert(sorted.columns.sorted === (plain.columns :+ "rank").sorted,
      "sort adds its rank; the created label must survive")
    assert(sorted.count() === plain.count())
    assert(sorted.count() > 0)
    // payload-label sort key over a multi-label recorded rule, through
    // the union namespace
    graft.sources.RecordedRules.record(spark, sf, "rec_sortkey_cnt1h",
      """sum by (event_type, user_id)(count_over_time({event_type=~"click|purchase"}[1h]))""")
    val bySrc = Promql.query(spark, sf,
      """sort_by_label(rec_sortkey_cnt1h, "src")""",
      graft.sources.RecordedRules.UnionSource(Seq("rec_sortkey_cnt1h")))
    assert(bySrc.columns.contains("src"),
      s"the payload sort key must resolve: ${bySrc.columns.mkString(",")}")
    val srcIdx = bySrc.columns.indexOf("src")
    val stepIdx = bySrc.columns.indexOf("step")
    val rows = bySrc.collect()
    assert(rows.nonEmpty)
    val rankIdx = bySrc.columns.indexOf("rank")
    assert(rankIdx >= 0, "sort_by_label must emit its rank column")
    // per step, src values must be lexicographically nondecreasing in
    // rank order
    rows.groupBy(_.getLong(stepIdx)).foreach { case (_, rs) =>
      val o = rs.sortBy(_.getInt(rankIdx)).map(_.getString(srcIdx))
      assert(o.sameElements(o.sorted), "sorted by the payload label")
    }
  }

  test("first/ts_of_* pick the right sample; ts_of_max on the max's timestamp") {
    val first = Promql.query(spark, sf, "first_over_time(purchase[6h])")
    val last = Promql.query(spark, sf, "last_over_time(purchase[6h])")
    assert(first.count() === last.count(), "same series/step grid")
    // ts_of_last == the plain max sample time per group; value is epoch secs
    val tsl = Promql.query(spark, sf, "ts_of_last_over_time(view[1d])")
    val manual = Tables.events(spark, sf).filter(col("event_type") === "view")
      .groupBy((floor(unix_micros(col("ts")) / 1e6 / 86400) * 86400)
        .cast("long").as("step"), col("user_id"))
      .agg((max(unix_micros(col("ts"))) / 1e6).as("value"))
    assert(tsl.exceptAll(manual).count() === 0 &&
      manual.exceptAll(tsl).count() === 0)
    // ts_of_max's timestamp belongs to a sample holding the group max
    val tmax = Promql.query(spark, sf, "ts_of_max_over_time(purchase[6h])")
    val ev = Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .select((floor(unix_micros(col("ts")) / 1e6 / 21600) * 21600)
        .cast("long").as("step"), col("user_id"),
        (unix_micros(col("ts")) / 1e6).as("t"), col("value"))
    val mx = ev.groupBy("step", "user_id").agg(max("value").as("vmax"))
    // every reported timestamp is the time of a sample holding the max
    val witnessed = tmax.join(ev.join(mx, Seq("step", "user_id"))
        .filter(col("value") === col("vmax"))
        .select(col("step"), col("user_id"), col("t").as("value")),
      Seq("step", "user_id", "value"), "left_semi")
    assert(witnessed.count() === tmax.count())
    assert(tmax.count() === mx.count())
  }

  test("native-histogram verbs: count==count_over_time, fraction in [0,1], stdvar=stddev^2") {
    val hc = Promql.query(spark, sf, "histogram_count(view[1d])")
    val ct = Promql.query(spark, sf, "count_over_time(view[1d])")
    assert(hc.exceptAll(ct).count() === 0 && ct.exceptAll(hc).count() === 0)
    val fr = Promql.query(spark, sf, "histogram_fraction(0.3, 3.0, click[1d])")
    assert(fr.filter(col("value") < 0.0 || col("value") > 1.0).count() === 0)
    assert(fr.count() > 0)
    // full-domain fraction is exactly 1 (bucket spans cover the value domain)
    val frAll = Promql.query(spark, sf,
      "histogram_fraction(0.0078125, 1024.0, click[1d])")
    assert(frAll.filter(col("value") =!= 1.0).count() === 0)
    val sd = Promql.query(spark, sf, "histogram_stddev(click[1d])")
    val sv = Promql.query(spark, sf, "histogram_stdvar(click[1d])")
    val j = sd.withColumnRenamed("value", "sdv")
      .join(sv, Seq("step", "user_id"))
    assert(j.filter(abs(col("sdv") * col("sdv") - col("value")) > 1e-9).count() === 0)
    intercept[IllegalArgumentException] {
      Promql.parse("histogram_fraction(3.0, 0.3, click[1d])")
    }
    // native histogram_quantile: every interpolated value sits inside
    // its schema-0 bucket span, and the cumulative window is per-series
    val hq = Promql.query(spark, sf, "histogram_quantile(0.9, click[1d])")
    assert(hq.count() > 0)
    assert(hq.filter(col("value") < math.pow(2.0, -7) ||
      col("value") > math.pow(2.0, 10)).count() === 0)
    val hw = hq.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(hw.nonEmpty)
    hw.foreach(w => assert(w.partitionSpec.nonEmpty))
    // the instant-vector form still parses to the discrete cross-series
    // quantile (both histogram kinds reachable from one spelling)
    assert(Promql.query(spark, sf,
      "histogram_quantile(0.9, count_over_time(click[1d]))").count() > 0)
  }

  test("mad_over_time windows all carry a partitionSpec") {
    val plan = Promql.query(spark, sf, "mad_over_time(click[1d])")
      .queryExecution.sparkPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window: ${w.simpleStringWithNodeId()}"))
  }

  test("promql table function: SQL text surface equals the API, composable") {
    // explicit dir argument
    val viaSql = spark.sql(
      s"SELECT * FROM promql('sum_over_time(click[1h])', '$sf')")
    val viaApi = Promql.query(spark, sf, "sum_over_time(click[1h])")
    assert(viaSql.exceptAll(viaApi).count() === 0 &&
      viaApi.exceptAll(viaSql).count() === 0)
    // session-conf dir (isolated session, so the conf doesn't leak)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.data.dir", sf)
    val viaConf = s2.sql("SELECT count(*) AS n FROM promql('rate(click[1h])')")
      .collect()(0).getLong(0)
    assert(viaConf === Promql.query(spark, sf, "rate(click[1h])").count())
    // composes like any table: filter + aggregate over the TVF result
    val top = spark.sql(
      s"""SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total
         |FROM promql('sum_over_time(purchase[1h])', '$sf')
         |GROUP BY 1 ORDER BY total DESC, user_id LIMIT 5""".stripMargin)
    assert(top.count() === 5)
    // errors are aimed at the user, not the analyzer
    val e = intercept[Exception](
      spark.sql("SELECT * FROM promql(42)").collect())
    assert(e.getMessage.contains("string literal") ||
      e.getMessage.contains("promql"))
  }
}
