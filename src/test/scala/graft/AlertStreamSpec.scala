package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Alerts, Promql}
import graft.streaming.AlertStream
import SparkFixture.{sf, spark}

/** The online alert evaluator must emit row-for-row what the batch
  * state machine produces over the same data — pending, firing,
  * hysteresis extension rows included — and emit each (series, step)
  * at most once across restarts.
  */
class AlertStreamSpec extends AnyFunSuite {
  import spark.implicits._

  private val W = 21600L       // 6h tumbling buckets
  private val Thresh = 1.0     // held when the bucket count >= 2
  private val For = 2 * W      // firing needs 2 consecutive held buckets
  private val Keep = W         // hysteresis bridges one missed eval

  test("streaming alert emissions equal the batch state machine, extension rows included") {
    val base = SparkFixture.tmp("alertstream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)

    def runOnce(): Unit = {
      val sq = AlertStream.run(spark, in, "click|purchase", W, Thresh,
          For, Keep).writeStream
        .format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    runOnce()
    // two sentinel hops (the StreamPromqlSpec drain pattern): sentinel 1
    // advances the watermark past every real bucket, sentinel 2 runs the
    // batch that applies it. Sentinel rows are "view" — OUTSIDE the rule
    // selector, so they drive only the clock (the pin-above contract).
    val maxUs = Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L
    def writeSentinel(id: Long, us: Long): Unit =
      Seq((id, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    writeSentinel(999999998L, maxUs + (2L * W + 7200L) * 1000000L)
    runOnce()
    writeSentinel(999999999L, maxUs + (2L * W + 7200L + 36000L) * 1000000L)
    runOnce()

    val got = spark.read.parquet(out)
    assert(got.count() > 0, "stream must emit alerts")

    // batch twin: tumbling evaluation of the same condition, fed
    // through the batch state machine on a grid covering the stream's
    // whole emission domain (last held + keep)
    val held = Promql.query(spark, sf,
      s"""sum by (event_type) (count_over_time({event_type=~"click|purchase"}[6h])) > 1""")
    val steps = held.agg(
      org.apache.spark.sql.functions.min("step"),
      org.apache.spark.sql.functions.max("step")).head
    val spec = Promql.EvalSpec(steps.getLong(0),
      steps.getLong(1) + Keep + W, W)
    val want = Alerts.alertStates(spark, held, spec, For, Keep)

    assert(got.columns.sorted === want.columns.sorted)
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).count() === 0, "stream-only rows")
    assert(w.exceptAll(got).count() === 0, "batch-only rows")

    // the fixture must actually exercise all three row kinds
    val states = got.select("alertstate").distinct().as[String].collect().toSet
    assert(states === Set("pending", "firing"))
    val extension = got.as[(Long, String, String, Double)].collect()
      .filter { case (step, et, st, _) =>
        st == "firing" &&
          held.filter(col("step") === step && col("event_type") === et)
            .isEmpty
      }
    assert(extension.nonEmpty,
      "fixture must produce hysteresis extension rows (firing at a missed eval)")

    // append emit-once across the three restarts
    assert(got.groupBy("step", "event_type").count()
      .filter(col("count") > 1).count() === 0, "duplicate emission")
  }

  test("sum and max verbs equal the batch state machine value-exactly") {
    for ((verb, expr, thresh) <- Seq(
      ("sum", "sum by (event_type)(sum_over_time({event_type=~\"click|purchase\"}[6h])) > 300",
        300.0),
      ("max", "max by (event_type)(max_over_time({event_type=~\"click|purchase\"}[6h])) > 250",
        250.0))) {
      val base = SparkFixture.tmp(s"alertstream_$verb")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
      Files.createDirectories(Paths.get(in))
      Files.copy(Paths.get(s"$sf/events.parquet"),
        Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      def runOnce(): Unit = {
        val sq = AlertStream.run(spark, in, "click|purchase", W, thresh,
            For, Keep, verb = verb).writeStream
          .format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
      }
      runOnce()
      val maxUs = Tables.events(spark, sf)
        .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L
      Seq((999999998L, java.time.LocalDateTime.ofEpochSecond(
          maxUs / 1000000L + 2 * W + 7200L, 0, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"),
        (999999999L, java.time.LocalDateTime.ofEpochSecond(
          maxUs / 1000000L + 2 * W + 43200L, 0, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
      runOnce(); runOnce()
      val got = spark.read.parquet(out)
      val held = graft.operators.Promql.query(spark, sf, expr)
      assert(held.count() > 0, s"$verb condition must hold somewhere")
      val steps = held.agg(
        org.apache.spark.sql.functions.min("step"),
        org.apache.spark.sql.functions.max("step")).head
      val spec2 = graft.operators.Promql.EvalSpec(steps.getLong(0),
        steps.getLong(1) + Keep + W, W)
      val want = Alerts.alertStates(spark, held, spec2, For, Keep)
      val w = want.select(got.columns.map(col): _*)
      assert(got.exceptAll(w).count() === 0, s"$verb stream-only rows")
      assert(w.exceptAll(got).count() === 0, s"$verb batch-only rows")
      assert(got.count() > 0)
    }
  }

  test("counter verbs (rate/increase) equal the batch state machine value-exactly") {
    // 12h buckets: the fixture has a 3-run of increase > 0 on click,
    // so for = 2W exercises pending AND firing; W = 12h makes the
    // per-bucket sample sets multi-user — the vector exactSum over
    // per-series growth chains is genuinely exercised
    val W12 = 43200L
    for ((verb, expr) <- Seq(
      ("rate",
        "sum by (event_type)(rate({event_type=~\"click|purchase\"}[12h])) > 0"),
      ("increase",
        "sum by (event_type)(increase({event_type=~\"click|purchase\"}[12h])) > 0"))) {
      val base = SparkFixture.tmp(s"alertstream_$verb")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
      Files.createDirectories(Paths.get(in))
      Files.copy(Paths.get(s"$sf/events.parquet"),
        Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      def runOnce(): Unit = {
        val sq = AlertStream.run(spark, in, "click|purchase", W12, 0.0,
            2 * W12, W12, verb = verb).writeStream
          .format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
      }
      runOnce()
      val maxUs = Tables.events(spark, sf)
        .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L
      Seq((999999998L, java.time.LocalDateTime.ofEpochSecond(
          maxUs / 1000000L + 2 * W12 + 7200L, 0, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"),
        (999999999L, java.time.LocalDateTime.ofEpochSecond(
          maxUs / 1000000L + 2 * W12 + 57600L, 0, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
      runOnce(); runOnce()
      val got = spark.read.parquet(out)
      val held = graft.operators.Promql.query(spark, sf, expr)
      assert(held.count() > 0, s"$verb condition must hold somewhere")
      val steps = held.agg(
        org.apache.spark.sql.functions.min("step"),
        org.apache.spark.sql.functions.max("step")).head
      val spec2 = graft.operators.Promql.EvalSpec(steps.getLong(0),
        steps.getLong(1) + 2 * W12, W12)
      val want = Alerts.alertStates(spark, held, spec2, 2 * W12, W12)
      assert(got.columns.sorted === want.columns.sorted)
      val w = want.select(got.columns.map(col): _*)
      assert(got.exceptAll(w).count() === 0, s"$verb stream-only rows")
      assert(w.exceptAll(got).count() === 0, s"$verb batch-only rows")
      // the machine must actually transition: both states present
      val states = got.select("alertstate").distinct()
        .as[String].collect().toSet
      assert(states === Set("pending", "firing"), states.toString)
    }
  }

  test("distribution verbs (avg/stddev/quantile) equal the batch state machine value-exactly") {
    // per-SERIES verbs over the shared sample channel (round 17): the
    // streamed value must reproduce the batch chain — per-series
    // avg/stddev/discrete-quantile with the ExactNum arithmetic, then
    // the vector exactSum — bit for bit. 12h buckets make per-bucket
    // sample sets multi-user, so the per-series decomposition is
    // genuinely exercised; threshold 0 holds everywhere, driving the
    // machine through pending AND firing.
    val W12 = 43200L
    for ((verb, expr, phi) <- Seq(
      ("avg",
        "sum by (event_type)(avg_over_time({event_type=~\"click|purchase\"}[12h])) > 0",
        0.5),
      ("stddev",
        "sum by (event_type)(stddev_over_time({event_type=~\"click|purchase\"}[12h])) > 0",
        0.5),
      ("quantile",
        "sum by (event_type)(quantile_over_time(0.9, {event_type=~\"click|purchase\"}[12h])) > 0",
        0.9))) {
      val base = SparkFixture.tmp(s"alertstream_$verb")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
      val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
      Files.createDirectories(Paths.get(in))
      Files.copy(Paths.get(s"$sf/events.parquet"),
        Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
      def runOnce(): Unit = {
        val sq = AlertStream.run(spark, in, "click|purchase", W12, 0.0,
            2 * W12, W12, verb = verb, q = phi).writeStream
          .format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        sq.awaitTermination()
      }
      runOnce()
      val maxUs = Tables.events(spark, sf)
        .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L
      Seq((999999998L, java.time.LocalDateTime.ofEpochSecond(
          maxUs / 1000000L + 2 * W12 + 7200L, 0, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"),
        (999999999L, java.time.LocalDateTime.ofEpochSecond(
          maxUs / 1000000L + 2 * W12 + 57600L, 0, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
      runOnce(); runOnce()
      val got = spark.read.parquet(out)
      val held = graft.operators.Promql.query(spark, sf, expr)
      assert(held.count() > 0, s"$verb condition must hold somewhere")
      val steps = held.agg(
        org.apache.spark.sql.functions.min("step"),
        org.apache.spark.sql.functions.max("step")).head
      val spec2 = graft.operators.Promql.EvalSpec(steps.getLong(0),
        steps.getLong(1) + 2 * W12, W12)
      val want = Alerts.alertStates(spark, held, spec2, 2 * W12, W12)
      assert(got.columns.sorted === want.columns.sorted)
      val w = want.select(got.columns.map(col): _*)
      assert(got.exceptAll(w).count() === 0, s"$verb stream-only rows")
      assert(w.exceptAll(got).count() === 0, s"$verb batch-only rows")
      val states = got.select("alertstate").distinct()
        .as[String].collect().toSet
      assert(states === Set("pending", "firing"), states.toString)
    }
  }

  test("an in-watermark out-of-order sample for an earlier still-open bucket is counted, not dropped") {
    // series first seen in bucket 18:00; a later batch delivers an
    // ADMITTED (above-watermark) sample for the still-open bucket
    // 17:00 — cursor initialization from the first arrival would drop
    // it and the 17:00 alert would never exist
    val base = SparkFixture.tmp("alertstream_ooo")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    val H = 3600L
    val day = 1704067200L // 2024-01-01 00:00 UTC
    def writeWave(tag: String, rows: Seq[(Long, Long, String)]): Unit =
      rows.map { case (id, sec, et) =>
        (id, java.time.LocalDateTime.ofEpochSecond(sec, 0,
          java.time.ZoneOffset.UTC), 1L, et, 1.0, "{}")
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$base/stage_$tag")
    def copyWave(tag: String): Unit = {
      val part = new java.io.File(s"$base/stage_$tag").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
    }
    def runOnce(): Unit = {
      val sq = AlertStream.run(spark, in, "click", H, 0.5, 0L, 0L)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    // wave 1: click in bucket 18:00 (first seen), view drives the clock
    writeWave("w1", Seq((1L, day + 18 * H + 300, "click"),
      (2L, day + 17 * H, "view")))
    copyWave("w1"); runOnce()
    // wave 2: click at 17:30 — bucket 17:00, ABOVE the watermark
    // (wm after wave 1 = 18:05 − 1h = 17:05)
    writeWave("w2", Seq((3L, day + 17 * H + 1800, "click")))
    copyWave("w2"); runOnce()
    // drain
    writeWave("w3", Seq((4L, day + 30 * H, "view")))
    copyWave("w3"); runOnce()
    writeWave("w4", Seq((5L, day + 40 * H, "view")))
    copyWave("w4"); runOnce()
    val got = spark.read.parquet(out)
      .select("step", "alertstate").as[(Long, String)].collect().toMap
    assert(got.contains(day + 17 * H),
      "the out-of-order bucket's alert must exist")
    assert(got.contains(day + 18 * H))
    assert(got.size === 2)
  }

  test("keep_firing_for = 0 emits exactly the held-step alerts (no extension rows)") {
    val base = SparkFixture.tmp("alertstream0")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def runOnce(): Unit = {
      val sq = AlertStream.run(spark, in, "click|purchase", W, Thresh,
          For, 0L).writeStream
        .format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    runOnce()
    val maxUs = Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L
    Seq((999999998L, java.time.LocalDateTime.ofEpochSecond(
        maxUs / 1000000L + 2 * W + 7200L, 0, java.time.ZoneOffset.UTC),
        1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()
    Seq((999999999L, java.time.LocalDateTime.ofEpochSecond(
        maxUs / 1000000L + 2 * W + 43200L, 0, java.time.ZoneOffset.UTC),
        1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(in)
    runOnce()

    val got = spark.read.parquet(out)
    val held = Promql.query(spark, sf,
      s"""sum by (event_type) (count_over_time({event_type=~"click|purchase"}[6h])) > 1""")
    val steps = held.agg(
      org.apache.spark.sql.functions.min("step"),
      org.apache.spark.sql.functions.max("step")).head
    val spec = Promql.EvalSpec(steps.getLong(0), steps.getLong(1) + W, W)
    val want = Alerts.alertStates(spark, held, spec, For, 0L)
    val w = want.select(got.columns.map(col): _*)
    assert(got.count() === held.count(), "keep=0: one row per held step")
    assert(got.exceptAll(w).count() === 0 && w.exceptAll(got).count() === 0)
  }
}
