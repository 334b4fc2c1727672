package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.RollupRewrite
import graft.streaming.RollupMaintainStream
import SparkFixture.spark

/** Stream-maintained rollup serving (streaming/RollupMaintainStream +
  * the RollupRewrite StreamStoreConf path): a flagged query over the
  * stream-maintained store must equal the raw batch answer up to the
  * store's watermark bound, across a checkpoint restart — the
  * near-real-time dashboard contract (VERDICT r12 #2).
  */
class RollupMaintainStreamSpec extends AnyFunSuite {

  // sf0.01: dense enough that the final (still-open) hours carry rows,
  // so the staleness bound is provably load-bearing
  private val dir01 = "/root/testdata/sf0.01"

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"rollup_maintain_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(s"$base/in"))
    (s"$base/in", s"$base/store", s"$base/cp")
  }

  private def land(in: String, wave: org.apache.spark.sql.DataFrame,
                   tag: String): Unit = {
    val stage = s"${in}_stage_$tag"
    wave.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
  }

  test("flagged query over the stream store equals raw up to the watermark, across a restart") {
    val (in, store, cp) = freshDirs("main")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    // arrival split by EVENT TIME (a parity split would drop the first
    // wave's buckets' late siblings at the watermark): the straddling
    // buckets only complete across the restart, which is the point
    val cut = java.time.LocalDateTime.parse("2024-01-15T00:00:00")
    land(in, ev.filter(col("ts") < lit(cut)), "w0")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    land(in, ev.filter(col("ts") >= lit(cut)), "w1")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    // one drain pass lets the final wave's watermark advance flush
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    val h = RollupMaintainStream.horizonSec(store).get
    assert(h > 1705276800L, s"horizon $h must have advanced past wave 0")

    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    val served = graft.operators.TimeSeries.rangeSumBy(s2, dir01)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("rollup_maintain"),
      s"flagged query must scan the stream-maintained store:\n${plan.take(1200)}")
    assert(!plan.contains("events.parquet"),
      s"flagged query must NOT scan raw events:\n${plan.take(1200)}")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val rawFull = graft.operators.TimeSeries.rangeSumBy(spark, dir01)
    val rawBounded = rawFull.filter(col("step") + 3600 <= h)
    assert(rows(served) === rows(rawBounded),
      "served answer must equal raw batch up to the watermark bound")
    // the bound is load-bearing: the final open hours exist in raw but
    // must NOT serve (they would be silently partial)
    assert(rawFull.count() > rawBounded.count(),
      "fixture must have steps beyond the horizon")
    assert(rows(served).nonEmpty)
  }

  test("stepped PromQL serves from the stream-maintained store up to the horizon") {
    val (in, store, cp) = freshDirs("stepped")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    land(in, ev, "all")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01) // drain: flush + advance
    val h = RollupMaintainStream.horizonSec(store).get
    assert(RollupMaintainStream.edgeCount(store).contains(0L),
      "the fixture corpus is boundary-clean and the store must record it")
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    import graft.operators.Promql
    val spec = Promql.EvalSpec(1704067200L, 1706659200L, 3600L, 7200L)
    val served = Promql.queryAt(s2, dir01, "sum_over_time(click[1h])", spec)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("rollup_maintain"),
      s"stepped query must scan the stream store:\n${plan.take(1000)}")
    assert(!plan.contains("events.parquet"), plan.take(1000))
    val raw = Promql.queryAt(spark, dir01, "sum_over_time(click[1h])", spec)
      .filter(col("step") <= h)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0,
      "served stepped answer must equal raw up to the horizon")
    assert(raw.count() > 0)
    // steps beyond the horizon are withheld, never served partial
    val rawFull = Promql.queryAt(spark, dir01, "sum_over_time(click[1h])", spec)
    assert(rawFull.count() > raw.count(),
      "fixture must have steps beyond the horizon")
  }

  test("stepped rate/increase serve from the stream store's counter partials, across a restart") {
    // VERDICT r13 #2: the c1 part schema carries inc_dec computed by
    // the buffered-state fold, so the near-real-time dashboard gets
    // rate/increase too — bit-equal to raw up to the horizon, with the
    // arrival split straddling bucket boundaries so within-bucket
    // pairs only complete across the checkpoint restart
    val (in, store, cp) = freshDirs("counter")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    val cut = java.time.LocalDateTime.parse("2024-01-15T00:02:30")
    land(in, ev.filter(col("ts") < lit(cut)), "w0")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    land(in, ev.filter(col("ts") >= lit(cut)), "w1")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01) // drain
    assert(RollupMaintainStream.counterRevOk(store),
      "a freshly created store must carry the c1 schema-rev marker")
    val h = RollupMaintainStream.horizonSec(store).get
    assert(h > 1705276800L, "horizon must have advanced past wave 0")
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    import graft.operators.Promql
    val spec = Promql.EvalSpec(1704067200L, 1706659200L, 3600L, 7200L)
    for (q <- Seq("rate(click[1h])", "increase(purchase[2h])")) {
      val served = Promql.queryAt(s2, dir01, q, spec)
      val plan = served.queryExecution.executedPlan.toString
      assert(plan.contains("rollup_maintain"),
        s"'$q' must serve from the stream store:\n${plan.take(1000)}")
      assert(!plan.contains("events.parquet"), plan.take(1000))
      val raw = Promql.queryAt(spark, dir01, q, spec)
        .filter(col("step") <= h)
      assert(served.exceptAll(raw).count() === 0 &&
        raw.exceptAll(served).count() === 0,
        s"'$q' from the stream store must equal raw up to the horizon")
      assert(raw.count() > 0, s"'$q' fixture must produce rows")
    }
    // a store whose marker claims a pre-c1 schema refuses counters
    // (lossless verbs keep serving) — stage the claim, then restore
    val rev = Paths.get(s"$store/_schema_rev")
    val orig = Files.readAllBytes(rev)
    Files.write(rev, "c0".getBytes)
    try {
      val vetoed = Promql.queryAt(s2, dir01, "rate(click[1h])", spec)
      assert(!vetoed.queryExecution.executedPlan.toString
        .contains("rollup_maintain"), "pre-c1 store must refuse counters")
      val lossless = Promql.queryAt(s2, dir01, "sum_over_time(click[1h])", spec)
      assert(lossless.queryExecution.executedPlan.toString
        .contains("rollup_maintain"), "lossless verbs keep serving")
      // and a maintenance resume against the pre-c1 claim is refused
      intercept[IllegalArgumentException] {
        RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
      }
    } finally Files.write(rev, orig)
  }

  test("hybrid fresh-tail: closed steps from the rollup, the open tail raw, one grid") {
    // VERDICT r14 #3 — the Thanos/M3 read path for a query ending at
    // now: with the freshTail opt-in, a spec straddling the stream
    // store's horizon serves closed steps from the rollup and
    // re-evaluates the open tail raw over ONLY the tail's time range,
    // and the union equals the full raw evaluation bit-for-bit.
    val store = RollupMaintainStream.demoStore(spark, dir01)
    val h = RollupMaintainStream.horizonSec(store).get
    import graft.operators.Promql
    val spec = Promql.EvalSpec(1704067200L, 1706659200L, 3600L, 7200L)
    assert(h > spec.startSec && h < spec.endSec,
      s"fixture horizon $h must straddle the spec")
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    s2.conf.set(RollupRewrite.FreshTailConf, "true")
    val q = "sum_over_time(click[2h])"
    val served = Promql.queryAt(s2, dir01, q, spec)
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("rollupstream"),
      s"closed steps must serve from the stream store:\n${plan.take(1200)}")
    assert(plan.contains("events.parquet"),
      s"the open tail must evaluate raw:\n${plan.take(1200)}")
    // the raw side's pushed ts bounds cover ONLY the tail: the scan's
    // lower bound is (firstOpenStep − window), far past the spec start
    val firstOpen = spec.startSec +
      (Math.floorDiv(h - spec.startSec, spec.stepSec) + 1L) * spec.stepSec
    val lo = java.time.LocalDateTime.ofEpochSecond(
      firstOpen - 7200L, 0, java.time.ZoneOffset.UTC)
    assert(plan.contains(lo.toString.replace("T", " ")) ||
      plan.contains(lo.toString),
      s"raw scan must push the tail-only lower bound $lo:\n${plan.take(2000)}")
    val specStart = java.time.LocalDateTime.ofEpochSecond(
      spec.startSec - 7200L, 0, java.time.ZoneOffset.UTC)
    assert(!plan.contains(specStart.toString.replace("T", " ")) &&
      !plan.contains(specStart.toString),
      "raw scan must NOT reach back to the spec start")
    // one grid, equal to the full raw evaluation
    val raw = Promql.queryAt(spark, dir01, q, spec)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0,
      "hybrid union must equal the full raw evaluation")
    // both sides genuinely contribute
    val closedN = raw.filter(col("step") <= h).count()
    val openN = raw.filter(col("step") > h).count()
    assert(closedN > 0 && openN > 0, s"closed=$closedN open=$openN")
    // without the freshTail opt-in the tail stays withheld (the
    // bounded-staleness contract is unchanged)
    val s3 = spark.newSession()
    s3.conf.set(RollupRewrite.Flag, "true")
    s3.conf.set(RollupRewrite.StreamStoreConf, store)
    val withheld = Promql.queryAt(s3, dir01, q, spec)
    assert(withheld.count() === closedN,
      "default serving must keep withholding the open tail")
    // the counter verbs ride the same hybrid: closed steps from the
    // store's inc_dec partials, the open tail raw, bit-equal overall
    val rq = "rate(click[2h])"
    val rServed = Promql.queryAt(s2, dir01, rq, spec)
    val rPlan = rServed.queryExecution.executedPlan.toString
    assert(rPlan.contains("rollupstream") && rPlan.contains("events.parquet"),
      s"hybrid rate must read both sides:\n${rPlan.take(1200)}")
    val rRaw = Promql.queryAt(spark, dir01, rq, spec)
    assert(rServed.exceptAll(rRaw).count() === 0 &&
      rRaw.exceptAll(rServed).count() === 0,
      "hybrid rate must equal the full raw evaluation")
    assert(rRaw.count() > 0)
    // the INSTANT-VECTOR path (plain selector → last_over_time over the
    // lookback) rides the hybrid through its own raw callback too
    val iServed = Promql.queryAt(s2, dir01, "click", spec)
    val iPlan = iServed.queryExecution.executedPlan.toString
    assert(iPlan.contains("rollupstream") && iPlan.contains("events.parquet"),
      s"hybrid instant vector must read both sides:\n${iPlan.take(1200)}")
    val iRaw = Promql.queryAt(spark, dir01, "click", spec)
    assert(iServed.exceptAll(iRaw).count() === 0 &&
      iRaw.exceptAll(iServed).count() === 0,
      "hybrid instant vector must equal the full raw evaluation")
    assert(iRaw.count() > 0)
  }

  test("chain levels fold behind the writer: closed hours/days serve from the fold levels, bit-equal to raw") {
    // VERDICT r15 #2 — the Thanos compactor posture: the maintenance
    // pass folds its newly closed hours into fold_3600s and closed
    // days into fold_86400s, and a wide LIVE query serves each step
    // from the coarsest folded level that covers it.
    import graft.operators.Promql
    import graft.sources.DownsampleStore
    val store = RollupMaintainStream.demoStore(spark, dir01)
    val h = RollupMaintainStream.horizonSec(store).get
    val (incs1h, h1h) = RollupMaintainStream.foldedLevel(store, 3600L).get
    val (incs1d, h1d) = RollupMaintainStream.foldedLevel(store, 86400L).get
    assert(h1h === Math.floorDiv(h, 3600L) * 3600L)
    assert(h1d === Math.floorDiv(h1h, 86400L) * 86400L)
    assert(h1d > 1704067200L, "fixture must close whole days")
    // fold-store identity: the INCREMENTAL 1h fold re-merges to
    // exactly the one-shot fold of the full closed range — every
    // partial (counts, decimal sums, order stats, endpoints, the
    // counter inc_dec) byte-equal through the incremental path
    val folded = DownsampleStore.readServingPaths(spark, incs1h,
      counters = true)
    val oneShot = DownsampleStore.rollupFrom(
      DownsampleStore.readServingPaths(spark,
          RollupMaintainStream.servingPaths(store).get, counters = true)
        .filter(col("bucket") < h1h), 3600L)
    assert(folded.exceptAll(oneShot).count() === 0 &&
      oneShot.exceptAll(folded).count() === 0,
      "incremental fold must equal the one-shot fold")
    assert(folded.count() > 0)
    // serving: an hour-stepped month-wide LIVE query reads closed
    // hours from fold_3600s (never 300 s rows — the band's step bound
    // is exactly the fold horizon), the partial hour from the 300 s
    // parts, the open tail raw — one grid, equal to raw
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    s2.conf.set(RollupRewrite.FreshTailConf, "true")
    val spec = Promql.EvalSpec(1704067200L, 1706659200L, 3600L, 7200L)
    val served = Promql.queryAt(s2, dir01, "sum_over_time(click[2h])", spec)
    // formatted explain keeps full scan locations (toString truncates)
    val plan = SparkFixture.planOf(served)
    assert(plan.contains("fold_3600s"),
      s"closed hours must scan the folded 1h level:\n${plan.take(2500)}")
    val raw = Promql.queryAt(spark, dir01, "sum_over_time(click[2h])", spec)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0)
    // day-stepped grid: the 1d band joins coarsest-first (both fold
    // levels in the plan), still bit-equal — including the counter
    // verbs through TWO stream-side folds
    val dspec = Promql.EvalSpec(1704067200L, 1706659200L, 86400L, 7200L)
    val dServed = Promql.queryAt(s2, dir01, "sum_over_time(click[1w])", dspec)
    val dPlan = SparkFixture.planOf(dServed)
    assert(dPlan.contains("fold_86400s") && dPlan.contains("fold_3600s"),
      s"day grid must read both fold levels:\n${dPlan.take(2500)}")
    val dRaw = Promql.queryAt(spark, dir01, "sum_over_time(click[1w])", dspec)
    assert(dServed.exceptAll(dRaw).count() === 0 &&
      dRaw.exceptAll(dServed).count() === 0)
    assert(dRaw.count() > 0)
    val rServed = Promql.queryAt(s2, dir01, "rate(click[1w])", dspec)
    val rRaw = Promql.queryAt(spark, dir01, "rate(click[1w])", dspec)
    assert(rServed.exceptAll(rRaw).count() === 0 &&
      rRaw.exceptAll(rServed).count() === 0,
      "counter chain through two stream folds must equal raw")
    assert(rRaw.count() > 0)
    // the tumbling RULE path rides the same bands (round 16): the
    // hourly rewrite reads the folded 1h level for closed hours and
    // the 300 s parts for the open ones, mixed resolutions
    // re-aggregating exactly per step group
    val ruleServed = graft.operators.TimeSeries.rangeSumBy(s2, dir01)
    val rulePlan = SparkFixture.planOf(ruleServed)
    assert(rulePlan.contains("fold_3600s"),
      s"hourly rewrite must scan the folded 1h level:\n${rulePlan.take(1500)}")
    assert(!rulePlan.contains("events.parquet"))
    // collect each side under ITS OWN plan: combining the frames
    // (exceptAll / an outer step filter) re-optimizes under shapes the
    // conservative rule vetoes, silently turning the comparison into
    // raw-vs-raw — the first test in this suite compares the same way
    def ruleRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val rawRule = graft.operators.TimeSeries.rangeSumBy(spark, dir01)
      .filter(col("step") + 3600 <= h)
    assert(ruleRows(ruleServed) === ruleRows(rawRule),
      "mixed-band tumbling rewrite must equal raw up to the horizon")
    assert(ruleRows(ruleServed).nonEmpty)
  }

  test("a fold-marker crash window never double-counts: overlapping increments are deleted and never served") {
    // ADVICE r16 (high): a crash after the parquet write of
    // inc_<prev>_<h1> but before the marker advance leaves the marker
    // at prev; the next pass (child horizon now h2 > h1) recomputes
    // the WIDER inc_<prev>_<h2>, whose range contains the orphan's —
    // serving both silently double-counts [prev, h1) and the 1d fold
    // bakes the duplication in permanently. The writer deletes the
    // orphan before writing; foldedLevel additionally serves only the
    // marker-consistent chain, so pre-fix stores heal on read.
    import graft.sources.DownsampleStore
    val (in, store, cp) = freshDirs("foldcrash")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    val cut1 = java.time.LocalDateTime.parse("2024-01-10T00:00:00")
    val cut2 = java.time.LocalDateTime.parse("2024-01-20T00:00:00")
    land(in, ev.filter(col("ts") < lit(cut1)), "w0")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    val foldDir = s"$store/fold_3600s"
    val m1 = RollupMaintainStream.readMarker(foldDir, "_horizon").get
    land(in, ev.filter(col("ts") >= lit(cut1) && col("ts") < lit(cut2)), "w1")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    val m2 = RollupMaintainStream.readMarker(foldDir, "_horizon").get
    assert(m2 > m1, "wave 1 must close new hours")
    assert(new java.io.File(foldDir, s"inc_${m1}_$m2").isDirectory)
    // simulate the crash: the inc dir committed, the marker did not
    Files.write(Paths.get(foldDir, "_horizon"), m1.toString.getBytes)
    land(in, ev.filter(col("ts") >= lit(cut2)), "w2")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01) // drain
    val m3 = RollupMaintainStream.readMarker(foldDir, "_horizon").get
    assert(m3 > m2, "wave 2 must close hours past the orphan's end")
    // the orphan is gone (the writer deleted it before the recompute)
    assert(!new java.io.File(foldDir, s"inc_${m1}_$m2").exists(),
      "the overlapped orphan increment must have been deleted")
    // and the folded level re-merges to exactly the one-shot fold —
    // every row singly counted through the crash window
    val (incs, h1h) = RollupMaintainStream.foldedLevel(store, 3600L).get
    val folded = DownsampleStore.readServingPaths(spark, incs, counters = true)
    val oneShot = DownsampleStore.rollupFrom(
      DownsampleStore.readServing(spark,
          RollupMaintainStream.servableParts(store).get, counters = true)
        .filter(col("bucket") < h1h), 3600L)
    assert(folded.exceptAll(oneShot).count() === 0 &&
      oneShot.exceptAll(folded).count() === 0,
      "fold chain through the crash window must equal the one-shot fold")
    assert(folded.count() > 0)
    // defense in depth: even a PRE-FIX store (overlapping dir present
    // on disk) serves only the marker-consistent chain — plant a fake
    // orphan overlapping the chain and assert it never serves
    val real = new java.io.File(foldDir).listFiles()
      .filter(_.getName.startsWith(s"inc_${m1}_")).head
    val fake = new java.io.File(foldDir, s"inc_${m1}_${m3 - 3600L}")
    org.apache.commons.io.FileUtils.copyDirectory(real, fake)
    val (incs2, _) = RollupMaintainStream.foldedLevel(store, 3600L).get
    assert(incs2 === incs, "an overlapping orphan must never join the chain")
    // same-range rewrites resolve to the newest generation only
    val regen = new java.io.File(s"${real.getPath}_g1")
    org.apache.commons.io.FileUtils.copyDirectory(real, regen)
    val (incs3, _) = RollupMaintainStream.foldedLevel(store, 3600L).get
    assert(incs3.contains(regen.getPath) && !incs3.contains(real.getPath),
      "equal ranges must serve the highest generation only")
    assert(incs3.size === incs.size)
  }

  test("a watermark landing exactly on a bucket boundary flushes the bucket ending there") {
    // ADVICE r14 (high): EventTimeTimeout fires only when the watermark
    // STRICTLY exceeds the timeout. Anchoring the timeout at bucket-end
    // meant a final watermark landing exactly on a 300s boundary left
    // the bucket ending there unflushed, while the published horizon
    // admitted its step — the serving then under-counted silently.
    // Craft a wave whose max event ts is exactly start+2h, so the
    // watermark is exactly hour-aligned (and 300-aligned).
    val (in, store, cp) = freshDirs("boundarywm")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    val anchorSec = 1704074400L // 2024-01-01T02:00:00 exactly
    val anchor = ev.limit(1).select(
      lit(999999999L).as("event_id"),
      to_timestamp(lit(anchorSec)).as("ts"),
      lit(1L).as("user_id"), lit("click").as("event_type"),
      lit(1.0).as("value"), lit("{}").as("props"))
    val wave = ev.filter(col("ts") < to_timestamp(lit(anchorSec)))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .union(anchor)
    land(in, wave, "w0")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01) // drain
    val h = RollupMaintainStream.horizonSec(store).get
    assert(h === anchorSec - 3600L,
      s"the pass watermark must land exactly on the hour boundary, got $h")
    // the 300s bucket ending exactly at the horizon must be flushed
    val parts = RollupMaintainStream.servableParts(store).get
    val newest = spark.read.parquet(parts)
      .agg(max(col("bucket"))).collect()(0).getLong(0)
    assert(newest + 300L === h,
      s"bucket ending at the horizon must be flushed: max bucket $newest, horizon $h")
    // and the hour step ending exactly at the horizon serves complete
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    val served = graft.operators.TimeSeries.rangeSumBy(s2, dir01)
    assert(served.queryExecution.executedPlan.toString.contains("rollup_maintain"))
    val raw = graft.operators.TimeSeries.rangeSumBy(spark, dir01)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .filter(_.getLong(0) == h - 3600L)
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    val servedMap = m(served)
    assert(servedMap === m(raw),
      "the step ending exactly at the horizon must serve the COMPLETE hour")
    assert(servedMap.nonEmpty)
  }

  test("a single pass's published horizon covers only flushed buckets") {
    // the demoStore crash-window argument, pinned: runOnce publishes
    // the watermark its last executed batch USED, so even WITHOUT a
    // drain pass every bucket ending at or before the marker is
    // flushed — a kill between passes leaves a staler store, never a
    // wrong one
    val (in, store, cp) = freshDirs("onepass")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    land(in, ev, "all")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01) // NO drain
    val h = RollupMaintainStream.horizonSec(store).get
    val parts = RollupMaintainStream.servableParts(store).get
    val flushed = spark.read.parquet(parts)
      .agg(sum("n_samples")).collect()(0).getLong(0)
    val expected = ev.filter(
      expr(s"(unix_micros(cast(ts as timestamp)) div 1000000 div 300) * 300 + 300 <= $h"))
      .count()
    assert(flushed === expected,
      s"pass-1 store must hold exactly the raw samples within horizon $h")
    assert(expected > 0L)
  }

  test("the store is bound to its source dataset: other dirs never serve") {
    val (in, store, cp) = freshDirs("binding")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    land(in, ev.limit(2000), "w0")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    assert(RollupMaintainStream.sourceDir(store).contains(dir01))
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    // a query over a DIFFERENT dataset in the same session must not be
    // answered from this store — wrong data, not just stale
    val other = graft.operators.TimeSeries.rangeSumBy(s2, SparkFixture.sf)
    assert(!other.queryExecution.executedPlan.toString
      .contains("rollup_maintain"),
      "another dataset's query must never serve from this store")
    // and a maintenance run claiming a different source is refused
    intercept[IllegalArgumentException] {
      RollupMaintainStream.runOnce(spark, in, store, cp, SparkFixture.sf)
    }
  }

  test("a store without the _watermark marker does not serve") {
    val (_, store, _) = freshDirs("nomarker")
    Files.createDirectories(Paths.get(s"$store/parts"))
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    val df = graft.operators.TimeSeries.rangeSumBy(s2, dir01)
    assert(!df.queryExecution.executedPlan.toString.contains("rollup_maintain"),
      "no staleness marker, no serving")
  }

  test("fresh checkpoint over an existing parts sink is refused") {
    val (in, store, cp) = freshDirs("guard")
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    land(in, ev.limit(100), "w0")
    RollupMaintainStream.runOnce(spark, in, store, cp, dir01)
    intercept[IllegalArgumentException] {
      RollupMaintainStream.runOnce(spark, in, store, s"${cp}_fresh", dir01)
    }
  }
}
