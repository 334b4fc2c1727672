package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.RollupRewrite
import graft.sources.DownsampleStore
import graft.streaming.{RollupCompactor, RollupMaintainStream => RMS}
import SparkFixture.spark

/** The waved stream-store fixture, shared with RollupServingGateSpec. */
object RollupCompactorSpec {

  val dir01 = "/root/testdata/sf0.01"

  def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"rollup_compact_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(s"$base/in"))
    (s"$base/in", s"$base/store", s"$base/cp")
  }

  def land(in: String, wave: org.apache.spark.sql.DataFrame,
           tag: String): Unit = {
    val stage = s"${in}_stage_$tag"
    wave.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
  }

  // waves cut just past a midnight so each pass's watermark lands in
  // [00:00, 01:00) and the 1h fold closes at a DAY-ALIGNED hour — the
  // chunk cut the log-structured consolidation keys on
  val cuts = Seq("2024-01-05T01:30:00", "2024-01-09T01:30:00",
    "2024-01-13T01:30:00", "2024-01-17T01:30:00", "2024-01-21T01:30:00")

  // lands waves 0..4 (everything before cuts.last stays in the store;
  // the slice past cuts.last is left for callers that need fresh
  // arrivals AFTER a compaction)
  def buildWaved(tag: String): (String, String, String) = {
    val (in, store, cp) = freshDirs(tag)
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    val bounds = cuts.map(java.time.LocalDateTime.parse)
    (None +: bounds.init.map(Option(_))).zip(bounds.map(Option(_)))
      .zipWithIndex.foreach { case ((lo, hi), i) =>
        val w = ev.filter(lo.fold(lit(true))(l => col("ts") >= lit(l)) &&
          hi.fold(lit(true))(h => col("ts") < lit(h)))
        land(in, w, s"w$i")
        RMS.runOnce(spark, in, store, cp, dir01)
      }
    RMS.runOnce(spark, in, store, cp, dir01) // drain
    (in, store, cp)
  }
}

/** Compaction + retention for the live rollup store chain (round 17;
  * VERDICT r16 #1 — the reference's Compact() role applied to the
  * stream store): part/increment dirs consolidate behind marker-gated
  * swaps with serving bit-equal before/after, the file count stays
  * bounded under repeated maintenance, and retention drops only
  * fold-covered raw buckets — queries needing them either serve from
  * the fold bands or fall back to the raw events scan, never partial.
  */
class RollupCompactorSpec extends AnyFunSuite {
  import RollupCompactorSpec._

  private def batchDirCount(store: String): Int =
    Option(new java.io.File(store, "parts").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("batch="))

  private def incDirCount(store: String, r: Long): Int =
    Option(new java.io.File(store, s"fold_${r}s").listFiles())
      .getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("inc_"))

  private def steppedRows(store: String, q: String,
                          spec: graft.operators.Promql.EvalSpec) = {
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    s2.conf.set(RollupRewrite.FreshTailConf, "true")
    graft.operators.Promql.queryAt(s2, dir01, q, spec)
  }

  test("compaction preserves serving bit-for-bit and bounds the file count") {
    val (in, store, cp) = buildWaved("main")
    val spec = graft.operators.Promql.EvalSpec(
      1704067200L, 1706659200L, 3600L, 7200L)
    val nBatches = batchDirCount(store)
    val nIncs = incDirCount(store, 3600L)
    assert(nBatches >= 5, s"waved build must land many batch dirs, got $nBatches")
    assert(nIncs >= 4, s"waved build must land many 1h incs, got $nIncs")
    def collectAll(q: String) =
      steppedRows(store, q, spec).collect()
        .map(r => r.toSeq.toList).sortBy(_.toString).toSeq
    val sumBefore = collectAll("sum_over_time(click[2h])")
    val rateBefore = collectAll("rate(click[2h])")
    RollupCompactor.compact(spark, store)
    // the raw level is ONE write-once dir; the 1h chain consolidated
    // its closed epochs (tail incs may remain, strictly fewer dirs)
    assert(batchDirCount(store) === 0, "all batch dirs must consolidate")
    assert(RMS.servingPaths(store).get.size === 1)
    assert(incDirCount(store, 3600L) < nIncs, "1h incs must consolidate")
    assert(RMS.readMarker(s"$store/fold_3600s", "_cons").exists(
      _ % 86400L == 0L), "the consolidation cut must be chunk-aligned")
    // bit-equal serving across the swap — sum AND rate
    assert(collectAll("sum_over_time(click[2h])") === sumBefore)
    assert(collectAll("rate(click[2h])") === rateBefore)
    assert(sumBefore.nonEmpty && rateBefore.nonEmpty)
    // and equal to the full raw evaluation (freshTail makes one grid)
    val raw = graft.operators.Promql.queryAt(spark, dir01,
      "rate(click[2h])", spec)
    val served = steppedRows(store, "rate(click[2h])", spec)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0)
    // idempotent: a second pass changes nothing
    val view = RMS.servingPaths(store).get
    RollupCompactor.compact(spark, store)
    assert(RMS.servingPaths(store).get === view)
    // new maintenance keeps appending; recompaction absorbs it and the
    // file count stays bounded (1 compacted dir + live tail)
    val ev = spark.read.parquet(s"$dir01/events.parquet")
    land(in, ev.filter(
      col("ts") >= lit(java.time.LocalDateTime.parse(cuts.last))), "wlast")
    RMS.runOnce(spark, in, store, cp, dir01)
    RMS.runOnce(spark, in, store, cp, dir01)
    assert(batchDirCount(store) > 0, "new batches land in parts/")
    val grown = steppedRows(store, "sum_over_time(click[2h])", spec)
    val rawFull = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[2h])", spec)
    assert(grown.exceptAll(rawFull).count() === 0 &&
      rawFull.exceptAll(grown).count() === 0,
      "mixed compacted+live serving must equal raw")
    RollupCompactor.compact(spark, store)
    assert(batchDirCount(store) === 0)
    assert(RMS.servingPaths(store).get.size === 1)
  }

  test("crash windows: an unreferenced compact dir never serves; a superseded batch dir is excluded") {
    val (_, store, _) = buildWaved("crash")
    RollupCompactor.compact(spark, store)
    val st = RollupCompactor.state(store).get
    val real = new java.io.File(s"$store/compact/${st.dirName}")
    val before = RMS.servingPaths(store).get
    // crash after a rewrite landed but before the marker: the orphan
    // dir must not serve (the marker still names the old view)
    val orphan = new java.io.File(s"$store/compact/upto_999_f${st.floor}_g9")
    org.apache.commons.io.FileUtils.copyDirectory(real, orphan)
    assert(RMS.servingPaths(store).get === before,
      "an unreferenced compact dir must never serve")
    org.apache.commons.io.FileUtils.deleteQuietly(orphan)
    // crash after the marker but before the cleanup: a batch dir with
    // id <= upTo is a superseded duplicate — excluded from serving,
    // removed by the next pass
    val ghost = new java.io.File(s"$store/parts/batch=0")
    org.apache.commons.io.FileUtils.copyDirectory(real, ghost)
    assert(RMS.servingPaths(store).get === before,
      "a superseded batch dir must never serve alongside the compacted view")
    RollupCompactor.compact(spark, store)
    assert(!ghost.exists(), "the next pass must clean the superseded dir")
  }

  test("retention drops only fold-covered raw buckets; fold bands keep serving them; finer grids fall back raw") {
    val (_, store, _) = buildWaved("retain")
    val h = RMS.horizonSec(store).get
    val h1h = RMS.foldedLevel(store, 3600L).get._2
    val keep = 4L * 86400L
    RollupCompactor.compact(spark, store, retainRawFor = Some(keep))
    val floor = RollupCompactor.retainFloor(store)
    assert(floor === h1h - keep, "floor = 1h fold horizon − window")
    // the raw level genuinely dropped the old buckets…
    val minBucket = spark.read.parquet(RMS.servingPaths(store).get: _*)
      .agg(min("bucket")).collect()(0).getLong(0)
    assert(minBucket >= floor, s"raw min bucket $minBucket vs floor $floor")
    // …and an hour-aligned month-wide query still equals raw: steps
    // over the dropped region serve from the fold bands (the plan
    // reads them), never partial
    val spec = graft.operators.Promql.EvalSpec(
      1704067200L, 1706659200L, 3600L, 7200L)
    val served = steppedRows(store, "sum_over_time(click[2h])", spec)
    val plan = SparkFixture.planOf(served)
    assert(plan.contains("fold_3600s"), plan.take(2000))
    val raw = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[2h])", spec)
    assert(served.exceptAll(raw).count() === 0 &&
      raw.exceptAll(served).count() === 0,
      "retained store must still equal raw on fold-aligned grids")
    assert(raw.count() > 0)
    // the counter chain too (inc_dec rides the fold levels)
    val rServed = steppedRows(store, "rate(click[1d])",
      graft.operators.Promql.EvalSpec(1704067200L, 1706659200L, 86400L, 7200L))
    val rRaw = graft.operators.Promql.queryAt(spark, dir01, "rate(click[1d])",
      graft.operators.Promql.EvalSpec(1704067200L, 1706659200L, 86400L, 7200L))
    assert(rServed.exceptAll(rRaw).count() === 0 &&
      rRaw.exceptAll(rServed).count() === 0)
    // a grid the fold bands cannot answer (30 min steps) that reaches
    // below the floor REFUSES the store — raw events scan, bit-equal
    val fine = graft.operators.Promql.EvalSpec(
      1704067200L, 1706659200L, 1800L, 7200L)
    val fineServed = steppedRows(store, "sum_over_time(click[30m])", fine)
    val finePlan = SparkFixture.planOf(fineServed)
    assert(finePlan.contains("events.parquet"),
      s"sub-hour grid below the floor must fall back raw:\n${finePlan.take(1500)}")
    assert(!finePlan.contains("rollup_compact_retain"),
      "the retained store must refuse a grid it cannot serve complete")
    val fineRaw = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[30m])", fine)
    assert(fineServed.exceptAll(fineRaw).count() === 0 &&
      fineRaw.exceptAll(fineServed).count() === 0)
    // …but the same fine grid WHOLLY ABOVE the floor keeps serving
    val lateStart = (Math.floorDiv(floor + 7200L, 1800L) + 1L) * 1800L
    val fineLate = graft.operators.Promql.EvalSpec(
      lateStart, 1706659200L, 1800L, 7200L)
    val lateServed = steppedRows(store, "sum_over_time(click[30m])", fineLate)
    assert(SparkFixture.planOf(lateServed).contains("rollup_compact_retain"),
      "a fine grid above the floor keeps serving from the store")
    val lateRaw = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[30m])", fineLate)
    assert(lateServed.exceptAll(lateRaw).count() === 0 &&
      lateRaw.exceptAll(lateServed).count() === 0)
    assert(lateRaw.count() > 0)
    // the tumbling RULE path: hour grid serves via the 1h band under a
    // floor; correct up to the horizon
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    val ruleServed = graft.operators.TimeSeries.rangeSumBy(s2, dir01)
    assert(ruleServed.queryExecution.executedPlan.toString
      .contains("rollup_compact_retain"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
    val rawRule = graft.operators.TimeSeries.rangeSumBy(spark, dir01)
      .filter(col("step") + 3600 <= h)
    assert(rows(ruleServed) === rows(rawRule))
    assert(rows(ruleServed).nonEmpty)
    // retention never advances past what the fold absorbed, and a
    // second pass with a wider window keeps the tighter floor
    RollupCompactor.compact(spark, store, retainRawFor = Some(30L * 86400L))
    assert(RollupCompactor.retainFloor(store) === floor,
      "the floor only ever advances")
  }
}
