package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{AlertGroupStream, AlertStream}
import SparkFixture.{sf, spark}

/** The streaming rule group (N rules, ONE stream, shared gcd-bucket
  * partials) must emit per rule EXACTLY what that rule's independent
  * AlertStream run emits — row-for-row and value-exactly — and its
  * recording rules must emit every closed data-bearing bucket with the
  * batch-exact aggregate. Windows 6h and 9h force the shared base
  * resolution to their gcd (3h): every rule aggregate is a genuine
  * multi-partial merge, not a passthrough.
  */
class AlertGroupStreamSpec extends AnyFunSuite {
  import spark.implicits._

  private val W6 = 21600L   // 6h — gcd with 9h is 3h: g < both windows
  private val W9 = 32400L   // 9h

  private val rules = Seq(
    AlertGroupStream.SRule("hot", "click|purchase", "count", W6,
      Some(1.0), forSec = 2 * W6, keepSec = W6),
    AlertGroupStream.SRule("big_sum", "purchase", "sum", W9,
      Some(300.0), forSec = W9, keepSec = 0L),
    // a COUNTER rule rides the same stream: its 12h buckets close
    // from the shared 3h-base SAMPLE lists (gcd(6h,9h,12h) = 3h)
    AlertGroupStream.SRule("err_rate", "click|purchase", "rate",
      43200L, Some(0.0), forSec = 86400L, keepSec = 43200L),
    AlertGroupStream.SRule("rec_max", "click", "max", W6, None))

  private lazy val maxUs = Tables.events(spark, sf)
    .agg(max(col("ts_ns"))).head.getLong(0) / 1000L
  private def writeSentinel(in: String, id: Long, sec: Long): Unit =
    Seq((id, java.time.LocalDateTime.ofEpochSecond(sec, 0,
        java.time.ZoneOffset.UTC), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
  // every stream sees the SAME input evolution in its own dir (the
  // AlertStreamSpec drain pattern: sentinel 1 advances the watermark,
  // sentinel 2's run applies it — both "view", clock-only)
  private def evolve(in: String)(runOnce: () => Unit): Unit = {
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    runOnce()
    writeSentinel(in, 999999998L, maxUs / 1000000L + 2 * W9 + 7200L)
    runOnce()
    writeSentinel(in, 999999999L, maxUs / 1000000L + 2 * W9 + 50400L)
    runOnce()
  }
  // the batch truth of rec_max: every data-bearing 6h click bucket's
  // max (integral div: ts_ns ~1.7e18 is beyond double precision)
  private def recMaxWant = Tables.events(spark, sf)
    .filter(col("event_type") === "click")
    .withColumn("step", expr(s"(ts_ns div 1000000000) div $W6") * W6)
    .groupBy("step", "event_type")
    .agg(max(col("value").cast("double")).as("value"))

  test("group emissions equal independent per-rule streams; recording rules emit batch-exact buckets") {
    val base = SparkFixture.tmp("alertgroupstream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))

    // the group: one stream over all three rules
    val gin = s"$base/group_in"
    val gout = s"$base/group_out"; val gchk = s"$base/group_chk"
    evolve(gin) { () =>
      val sq = AlertGroupStream.run(spark, gin, rules).writeStream
        .format("parquet")
        .option("path", gout).option("checkpointLocation", gchk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    val got = spark.read.parquet(gout)
    assert(got.count() > 0, "group must emit")

    // per-rule twins: each ALERT rule as its own AlertStream over an
    // identically-evolved input — the group must match each twin
    for (r <- rules if r.threshold.isDefined) {
      val tin = s"$base/${r.name}_in"
      val tout = s"$base/${r.name}_out"; val tchk = s"$base/${r.name}_chk"
      evolve(tin) { () =>
        val sq = AlertStream.run(spark, tin, r.metricRe, r.wSec,
            r.threshold.get, r.forSec, r.keepSec, verb = r.verb)
          .writeStream.format("parquet")
          .option("path", tout).option("checkpointLocation", tchk)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      val twin = spark.read.parquet(tout)
      val mineG = got.filter(col("rule") === r.name)
        .select("step", "event_type", "alertstate", "value")
      assert(mineG.count() > 0, s"rule ${r.name} must emit")
      assert(mineG.exceptAll(twin.select(mineG.columns.map(col): _*))
        .count() === 0, s"${r.name}: group-only rows")
      assert(twin.select(mineG.columns.map(col): _*).exceptAll(mineG)
        .count() === 0, s"${r.name}: twin-only rows")
    }

    // the recording rule: every closed data-bearing 6h click bucket,
    // value = the bucket max (doubles — no quantization in max)
    val recG = got.filter(col("rule") === "rec_max")
    assert(recG.filter(col("alertstate") =!= "none").count() === 0)
    val want = recMaxWant
    val gotRec = recG.select("step", "event_type", "value")
    assert(gotRec.exceptAll(want.select(gotRec.columns.map(col): _*))
      .count() === 0, "recording: group-only rows")
    assert(want.select(gotRec.columns.map(col): _*).exceptAll(gotRec)
      .count() === 0, "recording: missing buckets")

    // fixture exercises the full machine: pending AND firing rows on
    // the 6h alert, and append emit-once across the restarts
    val states = got.filter(col("rule") === "hot")
      .select("alertstate").distinct().as[String].collect().toSet
    assert(states === Set("pending", "firing"))
    assert(got.groupBy("rule", "step", "event_type").count()
      .filter(col("count") > 1).count() === 0, "duplicate emission")
  }

  test("distribution verbs in groups: avg/stddev/quantile legs equal their solo twins; stdvar recording batch-exact") {
    // the shared sample channel serving DISTRIBUTION rules (round 17):
    // 6h/9h/12h windows force genuine multi-bucket sample concats at
    // the 3h gcd before each per-series chain evaluates
    val distRules = Seq(
      AlertGroupStream.SRule("g_avg", "click|purchase", "avg", W6,
        Some(0.0), forSec = 2 * W6, keepSec = W6),
      AlertGroupStream.SRule("g_dev", "click|purchase", "stddev", W9,
        Some(0.0), forSec = W9),
      AlertGroupStream.SRule("g_p90", "click|purchase", "quantile",
        43200L, Some(0.0), forSec = 86400L, keepSec = 43200L, q = 0.9),
      AlertGroupStream.SRule("g_var_rec", "purchase", "stdvar", W6, None))
    val base = SparkFixture.tmp("alertgroupstream_dist")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val gin = s"$base/group_in"
    val gout = s"$base/group_out"; val gchk = s"$base/group_chk"
    evolve(gin) { () =>
      val sq = AlertGroupStream.run(spark, gin, distRules).writeStream
        .format("parquet")
        .option("path", gout).option("checkpointLocation", gchk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      sq.awaitTermination()
    }
    val got = spark.read.parquet(gout)
    assert(got.count() > 0, "dist group must emit")
    for (r <- distRules if r.threshold.isDefined) {
      val tin = s"$base/${r.name}_in"
      val tout = s"$base/${r.name}_out"; val tchk = s"$base/${r.name}_chk"
      evolve(tin) { () =>
        val sq = AlertStream.run(spark, tin, r.metricRe, r.wSec,
            r.threshold.get, r.forSec, r.keepSec, verb = r.verb, q = r.q)
          .writeStream.format("parquet")
          .option("path", tout).option("checkpointLocation", tchk)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        sq.awaitTermination()
      }
      val twin = spark.read.parquet(tout)
      val mineG = got.filter(col("rule") === r.name)
        .select("step", "event_type", "alertstate", "value")
      assert(mineG.count() > 0, s"rule ${r.name} must emit")
      assert(mineG.exceptAll(twin.select(mineG.columns.map(col): _*))
        .count() === 0, s"${r.name}: group-only rows")
      assert(twin.select(mineG.columns.map(col): _*).exceptAll(mineG)
        .count() === 0, s"${r.name}: twin-only rows")
    }
    // the stdvar recording rule: every closed data-bearing 6h purchase
    // bucket, value = the batch evaluator's vector-summed per-series
    // stdvar (the ExactNum chain) — compared against the batch PromQL
    // tumbling evaluation itself
    val want = graft.operators.Promql.query(spark, sf,
      """sum by (event_type)(stdvar_over_time({event_type=~"purchase"}[6h]))""")
    val recG = got.filter(col("rule") === "g_var_rec")
      .select("step", "event_type", "value")
    assert(recG.count() > 0)
    assert(recG.exceptAll(want.select(recG.columns.map(col): _*))
      .count() === 0, "stdvar recording: group-only rows")
    assert(want.select(recG.columns.map(col): _*).exceptAll(recG)
      .count() === 0, "stdvar recording: missing buckets")
  }

  test("runOnce persists recording rules through the recorded store; alerts alongside") {
    val base = SparkFixture.tmp("alertgroupstream_store")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val store = s"$base/store"
    evolve(in) { () =>
      graft.streaming.AlertGroupStream.runOnce(spark, in, store, chk, rules)
    }
    // the maintained store's rows are byte-identical to a batch
    // record() of the rule: the SAME toSamples mapping over the batch
    // truth (event_type rides the props payload as `src`)
    val wantSamples = graft.sources.RecordedRules
      .toSamples(recMaxWant.select("step", "event_type", "value"), "rec_max")
    val cols = wantSamples.columns.map(col).toSeq
    val gotStore = spark.read.parquet(s"$store/rec_max/parts")
      .select(cols: _*)
    assert(gotStore.exceptAll(wantSamples).count() === 0, "store-only rows")
    assert(wantSamples.exceptAll(gotStore).count() === 0, "missing rows")
    // the completeness horizon covers every stored window
    val h = graft.streaming.RecordingRuleStream
      .horizonSec(s"$store/rec_max").get
    val lastEnd = gotStore
      .agg(max(expr("ts_ns div 1000000000"))).head.getLong(0) + W6
    assert(h >= lastEnd, s"horizon $h must cover the last window $lastEnd")
    // and the store serves back through the evaluator seam
    val back = graft.operators.Promql.query(spark, in, "sum(rec_max)",
      graft.streaming.RecordingRuleStream.MaintainedSource(s"$store/rec_max"))
    assert(back.count() > 0)
    // alert emissions landed alongside, emit-once across the restarts
    val al = spark.read.parquet(s"$store/alerts/parts")
    assert(al.count() > 0)
    assert(al.filter(col("alertstate") === "none").count() === 0)
    assert(al.groupBy("rule", "step", "event_type").count()
      .filter(col("count") > 1).count() === 0, "duplicate alert row")
  }
}
