package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.RollupRewrite
import graft.streaming.{RollupBackfill, RollupCompactor, RollupMaintainStream => RMS}
import SparkFixture.spark

/** Out-of-order backfill into the stream-maintained rollup store
  * (round 17; VERDICT r16 #2 — Prometheus's OOO ingest): late samples
  * merge into their closed buckets via a from-source recompute + the
  * compaction swap discipline, touched fold increments refold under
  * bumped generations, untouched increments are never rewritten, and
  * the repaired store serves bit-equal to raw for sum AND rate.
  */
class RollupBackfillSpec extends AnyFunSuite {

  private val dir01 = "/root/testdata/sf0.01"

  private val lateCond = col("ts") >= lit("2024-01-08") &&
    col("ts") < lit("2024-01-09") && pmod(col("user_id"), lit(5)) === 2

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"rollup_backfill_$tag")
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

  private def incNames(store: String, r: Long): Set[String] =
    Option(new java.io.File(store, s"fold_${r}s").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("inc_"))
      .map(_.getName).toSet

  private def served(store: String, q: String,
                     spec: graft.operators.Promql.EvalSpec) = {
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    s2.conf.set(RollupRewrite.FreshTailConf, "true")
    graft.operators.Promql.queryAt(s2, dir01, q, spec)
  }

  test("a late slice repairs its closed buckets; untouched increments never rewritten; sum and rate bit-equal to raw") {
    val (in, store, cp) = freshDirs("main")
    val ev = Tables.events(spark, dir01)
    val cut = java.time.LocalDateTime.parse("2024-01-15T01:30:00")
    land(in, ev.filter(!lateCond && col("ts") < lit(cut)), "w0")
    RMS.runOnce(spark, in, store, cp, dir01)
    land(in, ev.filter(!lateCond && col("ts") >= lit(cut)), "w1")
    RMS.runOnce(spark, in, store, cp, dir01)
    RMS.runOnce(spark, in, store, cp, dir01) // drain
    val spec = graft.operators.Promql.EvalSpec(
      1704067200L, 1706659200L, 3600L, 7200L)
    val raw = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[2h])", spec)
    // the gap is load-bearing: before the repair, served != raw (the
    // missing clicks erase whole (step, user) rows, so the difference
    // shows on the raw side of the except)
    val before = served(store, "sum_over_time(click[2h])", spec)
    assert(raw.exceptAll(before).count() > 0,
      "the withheld late slice must show as a serving difference")
    val names1hBefore = incNames(store, 3600L)
    val names1dBefore = incNames(store, 86400L)
    assert(names1hBefore.size >= 2, s"fixture needs >=2 1h incs: $names1hBefore")

    RollupBackfill.backfill(spark, store, ev, ev.filter(lateCond))

    // repaired serving is bit-equal to raw — the lossless verb AND the
    // counter chain (inc_dec interleaves late samples by (us, id))
    val after = served(store, "sum_over_time(click[2h])", spec)
    assert(after.exceptAll(raw).count() === 0 &&
      raw.exceptAll(after).count() === 0,
      "repaired store must serve bit-equal to raw")
    val rRaw = graft.operators.Promql.queryAt(spark, dir01,
      "rate(click[2h])", spec)
    val rAfter = served(store, "rate(click[2h])", spec)
    assert(rAfter.exceptAll(rRaw).count() === 0 &&
      rRaw.exceptAll(rAfter).count() === 0,
      "counter partials must be repaired too")
    assert(rRaw.count() > 0)
    // touched increments were swapped under a bumped generation;
    // untouched increments kept their exact dirs
    val names1hAfter = incNames(store, 3600L)
    val touched1h = names1hBefore -- names1hAfter
    val fresh1h = names1hAfter -- names1hBefore
    assert(touched1h.size === 1 && fresh1h.size === 1,
      s"exactly the covering 1h increment swaps: -$touched1h +$fresh1h")
    assert(fresh1h.head.matches(raw"inc_-?\d+_-?\d+_g\d+"),
      s"the refolded dir must carry a generation: $fresh1h")
    val kept = names1hBefore.intersect(names1hAfter)
    assert(kept.nonEmpty, "the non-covering increment must survive untouched")
    val touched1d = names1dBefore -- incNames(store, 86400L)
    assert(touched1d.size === 1, s"the covering day increment swaps: $touched1d")
    // the store stays boundary-clean (the slice has no edge samples)
    assert(RMS.edgeCount(store).contains(0L))
    // the raw level swapped generations through the compaction marker
    assert(RollupCompactor.state(store).get.gen === 1L)
  }

  test("refoldLevel fills chain gaps: a touched parent with no covering increment gets its own dir") {
    // the totality defense (review r17): live runOnce sequences cannot
    // leave a marker-covered range without a serving increment, but
    // repair/restore tooling can — the refold must then CREATE the
    // hour's increment, not silently skip it while the marker claims
    // coverage. Driven directly against a handcrafted fold level.
    import spark.implicits._
    val store = SparkFixture.tmp("rollup_backfill_unit")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(store))
    val dir = s"$store/fold_3600s"
    Files.createDirectories(Paths.get(dir))
    def childRows(b: Long) = Seq(
      (b, 1L, "click", 2L, "3.5", 1.0, 2.5, 1.0, 2.5, "1.5"),
      (b + 300L, 1L, "click", 1L, "4.0", 4.0, 4.0, 4.0, 4.0, null))
      .toDF("bucket", "user_id", "event_type", "n_samples", "sum_dec",
        "min_value", "max_value", "first_value", "last_value", "inc_dec")
      .withColumn("sum_dec", col("sum_dec").cast("decimal(30,6)"))
      .withColumn("inc_dec", col("inc_dec").cast("decimal(30,6)"))
    graft.sources.DownsampleStore.rollupFrom(childRows(0L), 3600L)
      .write.mode("overwrite").parquet(s"$dir/inc_0_3600")
    Files.write(Paths.get(dir, "_horizon"), "10800".getBytes)
    RollupBackfill.refoldLevel(spark, store, 3600L, Set(3600L),
      p => childRows(p))
    val filler = new java.io.File(dir, "inc_3600_7200")
    assert(filler.isDirectory, "the gap hour must get its own increment")
    val (incs, h) = RMS.foldedLevel(store, 3600L).get
    assert(h === 10800L)
    assert(incs.map(p => new java.io.File(p).getName).toSet ===
      Set("inc_0_3600", "inc_3600_7200"),
      "the greedy chain must adopt the filler beside the original")
    val rows = spark.read.parquet(filler.getPath)
    assert(rows.count() === 1L, "one refolded hour row")
    assert(rows.select("bucket").collect()(0).getLong(0) === 3600L)
    // idempotent re-run bumps a generation and still serves once
    RollupBackfill.refoldLevel(spark, store, 3600L, Set(3600L),
      p => childRows(p))
    val (incs2, _) = RMS.foldedLevel(store, 3600L).get
    assert(incs2.size === 2 && incs2.exists(_.endsWith("_g1")),
      s"re-refold must supersede by generation: $incs2")
  }

  test("late data landing in a watermark-jump gap is repaired through the covering sparse increment") {
    // review r17: a wave holding only one far-future sample advances
    // the watermark across an EMPTY stretch — the fold writes a
    // data-less increment the chain never serves. Late rows landing in
    // that stretch then have no chain dir to rewrite; without the
    // gap-filler the fold marker keeps claiming coverage while the 1h
    // band silently misses the repaired rows.
    import spark.implicits._
    val (in, store, cp) = freshDirs("gap")
    val ev = Tables.events(spark, dir01)
    val t1 = java.time.LocalDateTime.parse("2024-01-10T00:00:00")
    land(in, ev.filter(col("ts") < lit(t1)), "w0")
    RMS.runOnce(spark, in, store, cp, dir01)
    val h1 = RMS.readMarker(s"$store/fold_3600s", "_horizon").get
    // wave 1: ONE synthetic sample far in the future — the watermark
    // jumps, every hour in between closes empty
    val farSec = 1707567000L // 2024-02-10T11:30
    val far = Seq((999999999L, 7L, "click", 1.0))
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit(farSec)))
      .withColumn("props", lit("{}"))
      .withColumn("ts_ns", lit(farSec * 1000000000L))
      .select(ev.schema.fields.map(f => col(f.name).cast(f.dataType)).toSeq: _*)
    land(in, far, "w1")
    RMS.runOnce(spark, in, store, cp, dir01)
    val h2 = RMS.readMarker(s"$store/fold_3600s", "_horizon").get
    assert(h2 > h1 + 86400L, "the watermark jump must close a wide empty range")
    // the jump increment carries wave 0's straggler buckets (the
    // increment that advances a horizon always contains the sample
    // that set the previous watermark), so the chain COVERS the empty
    // stretch with one wide, sparse dir — the in-chain refold must
    // repair hours deep inside it
    val (incsBefore, _) = RMS.foldedLevel(store, 3600L).get
    assert(incsBefore.exists(p => RMS.parseInc(new java.io.File(p)).get.b >= h2 - 3600L),
      s"the jump increment must serve: $incsBefore")
    // late slice lands inside the empty stretch
    val lateTo = java.time.LocalDateTime.parse("2024-01-10T06:00:00")
    val late = ev.filter(col("ts") >= lit(t1) && col("ts") < lit(lateTo))
    assert(late.count() > 0)
    RollupBackfill.backfill(spark, store, ev.unionByName(far), late)
    // the repaired window serves bit-equal to raw (store content is
    // complete up to the end of the late slice)
    val endSec = 1704866400L // 2024-01-10T06:00
    val spec = graft.operators.Promql.EvalSpec(1704067200L, endSec, 3600L, 7200L)
    val got = served(store, "sum_over_time(click[2h])", spec)
    assert(SparkFixture.planOf(got).contains("fold_3600s"))
    val raw = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[2h])", spec)
    assert(got.exceptAll(raw).count() === 0 &&
      raw.exceptAll(got).count() === 0,
      "gap hours must serve the backfilled rows from the fold level")
    assert(raw.filter(col("step") >= 1704844800L).count() > 0,
      "the comparison must include steps inside the repaired gap")
  }

  test("late rows past the horizon are refused, never silently dropped") {
    val (in, store, cp) = freshDirs("refuse")
    val ev = Tables.events(spark, dir01)
    land(in, ev.filter(col("ts") < lit("2024-01-10")), "w0")
    RMS.runOnce(spark, in, store, cp, dir01)
    RMS.runOnce(spark, in, store, cp, dir01)
    val h = RMS.horizonSec(store).get
    val tooNew = ev.filter(
      expr(s"unix_micros(ts) div 1000000 >= $h"))
    assert(tooNew.count() > 0, "fixture must have rows past the horizon")
    intercept[IllegalArgumentException] {
      RollupBackfill.backfill(spark, store, ev, tooNew)
    }
  }

  test("a boundary-seated late sample flips the store honest-dirty: stepped serving refuses") {
    import spark.implicits._
    val (in, store, cp) = freshDirs("edge")
    val ev = Tables.events(spark, dir01)
    land(in, ev, "w0")
    RMS.runOnce(spark, in, store, cp, dir01)
    RMS.runOnce(spark, in, store, cp, dir01)
    assert(RMS.edgeCount(store).contains(0L))
    // one late sample EXACTLY on a 300 s boundary, inside the horizon
    val lateRow = Seq((999999999L, 1L, "click", 7.5))
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", to_timestamp(lit(1704672000L)))
      .withColumn("props", lit("{}"))
      .withColumn("ts_ns", lit(1704672000L * 1000000000L))
      .select(ev.schema.fields.map(f =>
        col(f.name).cast(f.dataType)).toSeq: _*)
    val repairedSource = ev.unionByName(lateRow)
    RollupBackfill.backfill(spark, store, repairedSource, lateRow)
    assert(RMS.edgeCount(store).exists(_ > 0L),
      "the recomputed edge marker must count the boundary sample")
    val spec = graft.operators.Promql.EvalSpec(
      1704067200L, 1706659200L, 3600L, 7200L)
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    val df = graft.operators.Promql.queryAt(s2, dir01,
      "sum_over_time(click[2h])", spec)
    assert(!df.queryExecution.executedPlan.toString
      .contains("rollup_backfill_edge"),
      "a boundary-dirty store must refuse stepped serving")
  }

  test("driver demo: the backfilled store is the raw twin, end to end") {
    val store = RollupBackfill.demoStore(spark, dir01)
    val spec = graft.operators.Promql.EvalSpec(
      1704067200L, 1706659200L, 3600L, 7200L)
    val out = served(store, "sum_over_time(click[2h])", spec)
    assert(SparkFixture.planOf(out).contains("rollupstreambf"),
      "the demo store must actually serve")
    val raw = graft.operators.Promql.queryAt(spark, dir01,
      "sum_over_time(click[2h])", spec)
    assert(out.exceptAll(raw).count() === 0 &&
      raw.exceptAll(out).count() === 0)
    assert(raw.count() > 0)
    // idempotent across sessions: a second resolve reuses the store
    val again = RollupBackfill.demoStore(spark, dir01)
    assert(again === store)
  }
}
