package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Promql, RuleGroup}
import RuleGroup.Rule
import SparkFixture.spark

/** Rule groups SERVED FROM THE ROLLUP STORE (round 17, the
  * Thanos-ruler posture at group scale): with the rewrite opted in,
  * the physical-grain pass of a rule group reads the downsample store's
  * partials instead of the raw events scan — bit-equal outputs, proven
  * by exact frame equality against the raw evaluation and by the
  * recorded file-scan locations of each pass's executed
  * materialization plan.
  */
class RuleGroupRollupSpec extends AnyFunSuite {

  private val dir01 = "/root/testdata/sf0.01"
  private val spec = Promql.EvalSpec(1704067200L, 1704153600L, 3600L, 7200L)
  private val mets = Seq("click", "view", "purchase", "signup", "error")

  // every servable verb family: fused aggs, both counters, outer aggs,
  // alert machines with for:/keep:, recordings at and above the grain
  private val rules = Seq(
    Rule("ru_hot", "count_over_time", mets, 7200L, Seq("event_type"),
      Some((">", 6.0)), forSec = 7200L, keepSec = 3600L),
    Rule("ru_rate_alert", "rate", Seq("click", "view"), 7200L,
      Seq("event_type"), Some((">", 0.002)), forSec = 7200L),
    Rule("ru_click_sum1h", "sum_over_time", Seq("click"), 3600L,
      Seq("user_id")),
    Rule("ru_view_avg2h", "avg_over_time", Seq("view"), 7200L,
      Seq("user_id", "event_type")),
    Rule("ru_min", "min_over_time", Seq("click"), 3600L,
      Seq("event_type"), outerAgg = "min"),
    Rule("ru_max_alert", "max_over_time", Seq("click", "view"), 7200L,
      Seq("event_type"), Some((">", 150.0)), outerAgg = "max"),
    Rule("ru_click_inc", "increase", Seq("click"), 7200L, Seq("user_id")))

  private def flagged(): org.apache.spark.sql.SparkSession = {
    graft.sources.DownsampleStore.table(spark, dir01)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.rollup.rewrite", "true")
    s2
  }

  private def eq(a: org.apache.spark.sql.DataFrame,
                 b: org.apache.spark.sql.DataFrame, tag: String): Unit = {
    val bb = b.select(a.columns.map(col).toSeq: _*)
    assert(a.exceptAll(bb).count() === 0 && bb.exceptAll(a).count() === 0,
      s"$tag: rollup-served output must equal the raw evaluation")
    assert(a.count() > 0, s"$tag must produce rows")
  }

  /** Real scan locations of a rule's shared pass: the shared frame is
    * now an eager localCheckpoint (optimization r18), which hides the
    * pass's source from downstream plans entirely — so RuleGroup
    * records, per evaluate(), the file-scan root paths of each pass's
    * EXECUTED materialization plan (rootPaths, not the rendered
    * Location[...] — plan strings truncate long paths and would hide
    * which store level served). Same "equality alone cannot prove
    * WHICH access path ran" posture as the round-16 lesson, now
    * asserted on the plan that actually ran the scan.
    */
  private def scanLocations(s: org.apache.spark.sql.SparkSession,
                            rule: String): Set[String] =
    RuleGroup.lastScanPaths(s).get()(rule)

  private def allScanLocations(
      s: org.apache.spark.sql.SparkSession): Set[String] =
    RuleGroup.lastScanPaths(s).get()
      .values.reduce(_ ++ _)

  test("every servable verb: rollup-served group bit-equal to the raw group") {
    val s2 = flagged()
    val raw = RuleGroup.evaluate(spark, dir01, spec, rules)
    val served = RuleGroup.evaluate(s2, dir01, spec, rules)
    for (r <- rules) eq(served(r.name), raw(r.name), r.name)
  }

  test("the served pass reads ONLY the downsample store — no raw events scan") {
    val s2 = flagged()
    val served = RuleGroup.evaluate(s2, dir01, spec, rules)
    served.values.foreach(_.collect())
    val locs = allScanLocations(s2)
    assert(locs.nonEmpty)
    assert(locs.forall(_.contains("downsample_")),
      s"group must scan only the rollup store, scanned: $locs")
  }

  test("coarsest aligned level wins: the hour-aligned group serves from the 1h store") {
    graft.sources.DownsampleStore.table1h(spark, dir01)
    val s2 = flagged()
    val raw = RuleGroup.evaluate(spark, dir01, spec, rules)
    val served = RuleGroup.evaluate(s2, dir01, spec, rules)
    for (r <- rules) eq(served(r.name), raw(r.name), s"1h:${r.name}")
    val locs = allScanLocations(s2)
    assert(locs.forall(_.contains("downsample_3600s")),
      s"hour-aligned grid must read the 1h level, scanned: $locs")
  }

  test("mixed group: distribution rules keep the raw pass, servable rules the store") {
    val s2 = flagged()
    val mixed = rules.take(2) :+
      Rule("ru_dev", "stddev_over_time", Seq("click", "view"), 7200L,
        Seq("event_type"), outerAgg = "max")
    val raw = RuleGroup.evaluate(spark, dir01, spec, mixed)
    val served = RuleGroup.evaluate(s2, dir01, spec, mixed)
    for (r <- mixed) eq(served(r.name), raw(r.name), s"mixed:${r.name}")
    // the stddev rule's pass still reads raw events; the servable pass
    // the store — two scans for the mixed group, never N
    val devLocs = scanLocations(s2, "ru_dev")
    assert(devLocs.exists(_.contains("events")),
      s"distribution rule must read raw samples, scanned: $devLocs")
    val hotLocs = scanLocations(s2, "ru_hot")
    assert(hotLocs.forall(_.contains("downsample_")),
      s"servable rule must read the store, scanned: $hotLocs")
  }

  test("stream-maintained store: a fully-closed grid serves the group from the live store; an open grid refuses whole") {
    // the completeness-gated LIVE ruler: the group serves from the
    // stream store only when EVERY step's window is closed at the
    // store horizon — an alert's for:/keep: machine walks the whole
    // grid in order, so there is no sound closed-prefix serving; the
    // open-grid fallback is the raw scan, never a truncated grid
    val store = graft.streaming.RollupMaintainStream.demoStore(spark, dir01)
    val h = graft.streaming.RollupMaintainStream.horizonSec(store).get
    val endAligned = Math.floorDiv(h, 3600L) * 3600L
    val closedSpec = Promql.EvalSpec(1704067200L, endAligned, 3600L, 7200L)
    assert(endAligned > 1704067200L, s"fixture horizon $h must open a grid")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.rollup.rewrite", "true")
    s2.conf.set(graft.plans.RollupRewrite.StreamStoreConf, store)
    val raw = RuleGroup.evaluate(spark, dir01, closedSpec, rules)
    val served = RuleGroup.evaluate(s2, dir01, closedSpec, rules)
    for (r <- rules) eq(served(r.name), raw(r.name), s"live:${r.name}")
    val locs = allScanLocations(s2)
    assert(locs.nonEmpty && locs.forall(_.contains("rollupstream")),
      s"closed grid must read only the stream store, scanned: $locs")
    // the grid is hour-aligned (windows 1h/2h, hourly steps), so the
    // closed hours serve from the folded 1h level — 12x fewer rollup
    // rows than the 300s parts (the stepped front-end's band
    // discipline at group scale)
    assert(locs.exists(_.contains("fold_3600s")),
      s"hour-aligned closed steps must read the 1h fold level: $locs")
    // endSec one step past the horizon → the whole pass refuses and
    // evaluates raw, still bit-equal
    val openSpec = Promql.EvalSpec(1704067200L, endAligned + 3600L,
      3600L, 7200L)
    val rawO = RuleGroup.evaluate(spark, dir01, openSpec, rules)
    val servedO = RuleGroup.evaluate(s2, dir01, openSpec, rules)
    for (r <- rules) eq(servedO(r.name), rawO(r.name), s"open:${r.name}")
    val locsO = scanLocations(s2, rules.head.name)
    assert(locsO.exists(_.contains("events")),
      s"open grid must fall back to the raw scan, scanned: $locsO")
  }

  test("misaligned window refuses the store and falls back to raw, still exact") {
    val s2 = flagged()
    val odd = Seq(
      Rule("ru_odd", "count_over_time", Seq("click"), 450L,
        Seq("event_type")),
      Rule("ru_hot2", "count_over_time", mets, 7200L, Seq("event_type"),
        Some((">", 6.0)), forSec = 7200L))
    val raw = RuleGroup.evaluate(spark, dir01, spec, odd)
    val served = RuleGroup.evaluate(s2, dir01, spec, odd)
    // the 450 s window is not bucket-aligned: the WHOLE servable check
    // fails for that rule's pass partner too? No — partitioning is by
    // verb servability, and ru_odd IS a servable verb, so its window
    // poisons the shared alignment gate and both fall back raw — the
    // honest conservative choice (alignment is per PASS, one explode).
    for (r <- odd) eq(served(r.name), raw(r.name), s"odd:${r.name}")
    val locs = scanLocations(s2, "ru_odd")
    assert(locs.exists(_.contains("events")),
      s"misaligned pass must fall back to the raw scan, scanned: $locs")
  }
}
