package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamAgg
import org.scalatest.funsuite.AnyFunSuite
import SparkFixture.{sf, spark}

class StreamAggSpec extends AnyFunSuite {

  private def stageInput(tag: String): String = {
    val in = SparkFixture.tmp(s"streamagg_$tag/in")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(SparkFixture.tmp(s"streamagg_$tag")))
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    in
  }

  test("streaming windowed agg equals the batch computation") {
    val in = stageInput("win")
    val q = StreamAgg.windowedCounts(spark, in).writeStream
      .format("memory").queryName("wc_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("wc_stream")
    val want = Tables.events(spark, sf)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("step"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("streaming downsample maintenance equals the batch rollup row-for-row") {
    val in = stageInput("ds")
    val q = StreamAgg.downsampleStream(spark, in).writeStream
      .format("memory").queryName("ds_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ds_stream")
    val want = graft.sources.DownsampleStore.downsample(spark, sf)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("streaming native-histogram maintenance equals the batch build") {
    val in = stageInput("nh")
    val q = StreamAgg.nhistStream(spark, in).writeStream
      .format("memory").queryName("nh_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("nh_stream")
    val want = graft.operators.TimeSeries.nhistBuild(spark, sf)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("flatMapGroupsWithState sessionization matches a batch lag-window sessionizer") {
    val in = stageInput("sess")
    import SparkFixture.spark.implicits._
    val gapUs = 30L * 60 * 1000000
    val q = StreamAgg.sessionizeBacklog(spark, in, gapUs).writeStream
      .format("memory").queryName("sess_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sess_stream")
    // batch sessionizer: session id = running count of gap-breaks per user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us")
    val want = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", when(
        col("us") - lag("us", 1).over(w) > gapUs || lag("us", 1).over(w).isNull, 1)
        .otherwise(0))
      .withColumn("sess", sum("gap").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess")
      .agg(min("us").as("session_start_us"), max("us").as("session_end_us"),
        count(lit(1)).as("n_events"))
      .drop("sess")
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("native session_window equals the batch sessionize operator") {
    val in = stageInput("native")
    val gapSec = graft.operators.Behavior.DefaultSessionGapSec
    val q = StreamAgg.sessionWindowNative(spark, in, gapUs = gapSec * 1000000L)
      .writeStream
      .format("memory").queryName("sw_stream")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("sw_stream")
    val want = graft.operators.Behavior.sessionize(spark, sf, gapSec = gapSec)
      .select("user_id", "start_us", "end_us", "n_events", "value_sum")
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("live sessionize emits each session exactly once across batches") {
    import SparkFixture.spark.implicits._
    val base = SparkFixture.tmp("streamagg_live")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"
    Files.createDirectories(Paths.get(in))
    val t0 = 1704067200000000L // µs
    def writeBatch(file: String, rows: Seq[(Long, Long)]): Unit = {
      // the file source does not recurse into non-partition subdirs, so
      // stage the Spark output elsewhere and move its part file into `in`
      val stage = s"$base/stage_$file"
      rows.zipWithIndex
        .map { case ((uid, us), i) =>
          (i.toLong, us * 1000L, uid, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$file.parquet"))
    }
    val out = s"$base/out"
    def runOnce(): Unit = {
      // parquet sink: checkpoint-recoverable (memory sink is not), and
      // accumulates across runs so any Append-mode duplicate would land
      // as a duplicate row in the output files
      val q = StreamAgg.sessionize(spark, in, gapUs = 30L * 60 * 1000000)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: user 1 has a 2-event session, then (after a >gap break)
    // a 1-event session still open at batch end
    writeBatch("b1", Seq(
      (1L, t0), (1L, t0 + 10L * 60 * 1000000), // session A: 2 events
      (1L, t0 + 2L * 3600 * 1000000)))         // session B opens
    runOnce()
    // batch 2: an event far in the future pushes the watermark past
    // session B's end + gap, so the timeout must flush it — exactly once
    writeBatch("b2", Seq((2L, t0 + 30L * 3600 * 1000000)))
    runOnce()
    val all = spark.read.parquet(out).filter(col("user_id") === 1L)
    val rows = all.collect().map(r =>
      (r.getAs[Long]("session_start_us"), r.getAs[Long]("session_end_us"),
        r.getAs[Long]("n_events"))).sortBy(_._1)
    // both sessions present, each exactly once, no open-session re-emits
    assert(rows.toSeq === Seq(
      (t0, t0 + 10L * 60 * 1000000, 2L),
      (t0 + 2L * 3600 * 1000000, t0 + 2L * 3600 * 1000000, 1L)),
      s"got: ${rows.toSeq}")
  }

  test("delayed out-of-order event cannot move a session end backwards") {
    import SparkFixture.spark.implicits._
    val base = SparkFixture.tmp("streamagg_ooo")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    val t0 = 1704067200000000L
    def writeBatch(file: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = s"$base/stage_$file"
      rows.zipWithIndex
        .map { case ((uid, us), i) => (i.toLong, us * 1000L, uid, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$file.parquet"))
    }
    def runOnce(): Unit = {
      val q = StreamAgg.sessionize(spark, in, gapUs = 30L * 60 * 1000000)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: session open with end at t0+10m (watermark well behind)
    writeBatch("b1", Seq((1L, t0), (1L, t0 + 10L * 60 * 1000000)))
    runOnce()
    // batch 2: a DELAYED event at t0+5m (above watermark) — must not
    // rewind the end — then t0+38m, within gap of the true end t0+10m,
    // so the session keeps growing instead of wrongly splitting
    writeBatch("b2", Seq((1L, t0 + 5L * 60 * 1000000), (1L, t0 + 38L * 60 * 1000000)))
    // batch 3: far-future event flushes user 1's session via timeout
    writeBatch("b3", Seq((2L, t0 + 30L * 3600 * 1000000)))
    runOnce(); runOnce()
    val rows = spark.read.parquet(out).filter(col("user_id") === 1L)
      .collect().map(r => (r.getAs[Long]("session_start_us"),
        r.getAs[Long]("session_end_us"), r.getAs[Long]("n_events")))
    assert(rows.toSeq === Seq((t0, t0 + 38L * 60 * 1000000, 4L)),
      s"expected ONE session absorbing the delayed event, got ${rows.toSeq}")
  }

  test("delayed event older than the open session's reach is dropped, not merged") {
    import SparkFixture.spark.implicits._
    val base = SparkFixture.tmp("streamagg_late")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    val t0 = 1704067200000000L
    val min = 60L * 1000000L
    def writeBatch(file: String, rows: Seq[(Long, Long)]): Unit = {
      val stage = s"$base/stage_$file"
      rows.zipWithIndex
        .map { case ((uid, us), i) => (i.toLong, us * 1000L, uid, "click", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$file.parquet"))
    }
    def runOnce(): Unit = {
      val q = StreamAgg.sessionize(spark, in, gapUs = 30L * 60 * 1000000)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: session A=[t0, t0+10m] closes when B opens at t0+50m
    writeBatch("b1", Seq((1L, t0), (1L, t0 + 10 * min), (1L, t0 + 50 * min)))
    runOnce()
    // batch 2: delayed t0+11m — above watermark (t0-10m) but BEFORE
    // B.start - gap (t0+20m): belongs to emitted history; merging it
    // into B would make B overlap A's region and span a 39m silence
    writeBatch("b2", Seq((1L, t0 + 11 * min)))
    // batch 3: far-future event flushes B via the event-time timeout
    writeBatch("b3", Seq((2L, t0 + 30L * 3600 * 1000000)))
    runOnce(); runOnce()
    val rows = spark.read.parquet(out).filter(col("user_id") === 1L)
      .collect().map(r => (r.getAs[Long]("session_start_us"),
        r.getAs[Long]("session_end_us"), r.getAs[Long]("n_events"))).sortBy(_._1)
    assert(rows.toSeq === Seq(
      (t0, t0 + 10 * min, 2L), (t0 + 50 * min, t0 + 50 * min, 1L)),
      s"late event must be dropped, got ${rows.toSeq}")
  }

  test("mapGroupsWithState running stats equal the batch group stats") {
    val in = stageInput("state")
    import SparkFixture.spark.implicits._
    val q = StreamAgg.userRunningStats(spark, in).writeStream
      .format("memory").queryName("us_stream")
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // one batch → the latest update per user is that user's total
    val got = spark.table("us_stream")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("last_us").as("last_us"))
    val want = Tables.events(spark, sf)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        max(unix_micros(col("ts"))).as("last_us"))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }
}
