package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.RecordingRuleStream
import graft.sources.RecordedRules
import SparkFixture.{sf, spark}

/** The maintained recording-rule store must hold, below its horizon,
  * byte-identical rows to a batch `record()` of the same rule, serve
  * them back through the evaluator, and stay append-exact across
  * restarts.
  */
class RecordingRuleStreamSpec extends AnyFunSuite {
  import spark.implicits._

  private val W = 3600L
  private val Expr = "sum by (user_id)(sum_over_time(purchase[1h]))"

  test("maintained store equals the batch recorder below the horizon; serves through the seam") {
    val base = SparkFixture.tmp("recrulestream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val store = s"$base/store"; val chk = s"$base/chk"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$in/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    def runOnce(): Unit = RecordingRuleStream.runOnce(
      spark, in, store, chk, "rec_stream_spec", Expr)
    runOnce()
    val maxUs = Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L
    def sentinel(id: Long, us: Long): Unit =
      Seq((id, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
          1L, "view", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    sentinel(999999998L, maxUs + (2 * W + 7200L) * 1000000L)
    runOnce()
    sentinel(999999999L, maxUs + (2 * W + 43200L) * 1000000L)
    runOnce()

    val h = RecordingRuleStream.horizonSec(store).get
    val streamed = spark.read.parquet(s"$store/parts")
      .select("ts_ns", "user_id", "event_type", "value", "event_id")

    // batch twin via the SAME mapping code, filtered to closed windows
    RecordedRules.record(spark, sf, "rec_stream_spec_batch", Expr)
    val batch = graft.operators.Promql.query(spark, sf, "rec_stream_spec_batch",
        RecordedRules.RecordedSource("rec_stream_spec_batch"))
    // compare on the raw stored rows instead: read the batch store
    // (record() returns its own store path, so the r2 schema-rev bump
    // cannot silently leave this read on a stale pre-r2 dir)
    val batchRows = spark.read.parquet(
        RecordedRules.record(spark, sf, "rec_stream_spec_batch", Expr))
      .filter(col("ts_ns") / 1000000000L + W <= h)
      .select("ts_ns", "user_id", "value", "event_id")
    val streamedBelow = streamed
      .filter(col("ts_ns") / 1000000000L + W <= h)
      .select("ts_ns", "user_id", "value", "event_id")
    assert(streamedBelow.count() > 0)
    assert(streamedBelow.exceptAll(batchRows).count() === 0, "stream-only rows")
    assert(batchRows.exceptAll(streamedBelow).count() === 0, "batch-only rows")
    // every streamed window is closed: nothing above the horizon
    assert(streamed.filter(col("ts_ns") / 1000000000L + W > h).count() === 0)
    // append-exact across the three restarts
    assert(streamed.groupBy("ts_ns", "user_id").count()
      .filter(col("count") > 1).count() === 0, "duplicate windows")
    // full circle: aggregate the maintained series through the evaluator
    val served = graft.operators.Promql.query(spark, sf, "sum(rec_stream_spec)",
      RecordingRuleStream.MaintainedSource(store))
    assert(served.count() > 0)
    assert(batch.count() > 0) // the batch readback sanity pin
  }
}
