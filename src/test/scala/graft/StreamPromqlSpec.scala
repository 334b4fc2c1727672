package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.PromqlStream
import graft.operators.Promql
import org.scalatest.funsuite.AnyFunSuite
import SparkFixture.{sf, spark}

/** The streaming PromQL subset must produce row-for-row the batch
  * evaluator's results over the same data — the fusion identities and
  * epoch-aligned windows are exact, not approximations.
  */
class StreamPromqlSpec extends AnyFunSuite {

  private def stageInput(tag: String): String = {
    val in = SparkFixture.tmp(s"streampromql_$tag/in")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(SparkFixture.tmp(s"streampromql_$tag")))
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    in
  }

  private def runComplete(q: String, tag: String): org.apache.spark.sql.DataFrame = {
    val in = stageInput(tag)
    val sq = PromqlStream.query(spark, in, q).writeStream
      .format("memory").queryName(s"pstream_$tag")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    sq.awaitTermination()
    spark.table(s"pstream_$tag")
  }

  private def assertEqualsBatch(q: String, tag: String): Unit = {
    val got = runComplete(q, tag)
    val want = Promql.query(spark, sf, q)
    assert(got.columns.sorted === want.columns.sorted, s"$q schema")
    val w = want.select(got.columns.map(org.apache.spark.sql.functions.col): _*)
    assert(got.exceptAll(w).count() === 0, s"$q stream-only rows")
    assert(w.exceptAll(got).count() === 0, s"$q batch-only rows")
    assert(got.count() > 0, s"$q must be non-empty")
  }

  test("fused sum(count_over_time) equals the batch evaluation") {
    assertEqualsBatch("sum(count_over_time(click[1h]))", "fsum")
  }

  test("per-series avg_over_time with a matcher equals batch") {
    assertEqualsBatch("""avg_over_time(purchase{user_id=~"1.*"}[1d])""", "avg")
  }

  test("fused sum by(user_id)(sum_over_time) and bare selector equal batch") {
    assertEqualsBatch("sum by(user_id)(sum_over_time(view[6h]))", "fby")
    assertEqualsBatch("click", "sel")
  }

  test("live append run emits each closed window exactly once across batches") {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = SparkFixture.tmp("streampromql_live")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    val t0 = 1704067200000000L // µs, hour-aligned
    def writeBatch(file: String, rows: Seq[(Long, Long, Double)]): Unit = {
      val stage = s"$base/stage_$file"
      rows.zipWithIndex
        .map { case ((uid, us, v), i) => (i.toLong, us * 1000L, uid, "click", v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$file.parquet"))
    }
    def runOnce(): Unit = {
      val q = PromqlStream.query(spark, in, "sum(sum_over_time(click[1h]))")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // batch 1: two samples in hour 0, one in hour 2
    writeBatch("b1", Seq((1L, t0, 2.0), (2L, t0 + 60L * 1000000, 3.0),
      (1L, t0 + 2L * 3600 * 1000000, 7.0)))
    runOnce()
    // batch 2: a far-future sample pushes the watermark past hours 0-2,
    // flushing their windows; any re-emit would duplicate parquet rows
    writeBatch("b2", Seq((1L, t0 + 30L * 3600 * 1000000, 1.0)))
    runOnce()
    val got = spark.read.parquet(out)
      .filter(col("step") < t0 / 1000000L + 10L * 3600)
      .collect().map(r => (r.getAs[Long]("step"), r.getAs[Double]("value")))
      .sortBy(_._1)
    assert(got.toSeq === Seq(
      (t0 / 1000000L, 5.0),
      (t0 / 1000000L + 2L * 3600, 7.0)), s"got: ${got.toSeq}")
  }

  test("cross-window/cross-series constructs are rejected, not approximated") {
    Seq("avg(avg_over_time(click[1h]))",
      "topk(3, sum_over_time(click[1h]))",
      "sum_over_time(click[1h] offset 1h)",
      "sum_over_time(purchase[1h]) / on(user_id) sum_over_time(click[1h])")
      .foreach { q =>
        val e = intercept[IllegalArgumentException](
          PromqlStream.query(spark, "/nonexistent", q))
        assert(e.getMessage.contains("not streamable"), q)
      }
  }

  test("fused stddev_over_time equals the batch evaluation") {
    assertEqualsBatch("stddev_over_time(click[1d])", "sdot")
  }

  test("first_over_time and the ts_of_* family equal batch (arg-extremum picks)") {
    assertEqualsBatch("first_over_time(purchase[6h])", "fot")
    assertEqualsBatch("ts_of_last_over_time(view[1d])", "tslast")
    assertEqualsBatch("ts_of_max_over_time(purchase[6h])", "tsmax")
    assertEqualsBatch("ts_of_min_over_time(click[1d])", "tsmin")
  }

  test("native-histogram header verbs stream; bucket estimators are rejected") {
    assertEqualsBatch("histogram_avg(purchase[1d])", "havg")
    intercept[IllegalArgumentException] {
      PromqlStream.query(spark, stageInput("hsd"), "histogram_stddev(click[1d])")
    }
  }

  /** The buffered-state (flatMapGroupsWithState) harness: run the query
    * over the real events file, then flush every open window. The
    * watermark a batch USES comes from the data of prior batches, so
    * flushing takes two extra hops: sentinel 1 advances the watermark
    * past all real windows, and sentinel 2 runs the batch that applies
    * it — firing the remaining timeouts. Asserts exact (value-included)
    * equality with the batch evaluator below the sentinel cutoff, plus
    * Append emit-once.
    */
  private def assertBufferedEqualsBatch(q: String, tag: String,
                                        rangeSec: Long): Unit = {
    import SparkFixture.spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = SparkFixture.tmp(s"streampromql_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val chk = s"$base/chk"; val out = s"$base/out"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    def runOnce(): Unit = {
      val sq = PromqlStream.query(spark, in, q).writeStream
        .format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
    }
    runOnce()
    // past the last possible real window end, whatever the range
    val sentinelUs = Tables.events(spark, sf)
      .agg(org.apache.spark.sql.functions.max(col("ts_ns"))).head.getLong(0) / 1000L +
      (2L * rangeSec + 7200L) * 1000000L
    // the sentinel file must carry the SAME raw layout as the copied
    // events.parquet (µs NTZ), or the file stream's fixed schema
    // misreads it
    def writeSentinel(id: Long, us: Long): Unit =
      Seq((id, java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
          (us % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
          1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("append").parquet(in)
    writeSentinel(999999998L, sentinelUs)
    runOnce()
    writeSentinel(999999999L, sentinelUs + 10L * 3600 * 1000000L)
    runOnce()
    val cutoff = sentinelUs / 1000000L - rangeSec
    val got = spark.read.parquet(out).filter(col("step") < cutoff)
    val want = graft.operators.Promql.query(spark, sf, q)
      .filter(col("step") < cutoff)
    // exact equality, value included: the JVM fold replicates the batch
    // formula (sort keys, decimal accumulation, drop rules) bit-for-bit
    val w = want.select(got.columns.map(col): _*)
    assert(got.count() === want.count(), s"$q window count")
    assert(got.exceptAll(w).count() === 0, s"$q stream-only rows")
    assert(w.exceptAll(got).count() === 0, s"$q batch-only rows")
    assert(got.count() > 0, s"$q must be non-empty")
    // Append emit-once: no (step, user_id) appears twice in the sink
    assert(got.groupBy("step", "user_id").count()
      .filter(col("count") > 1).count() === 0, s"$q duplicate emission")
  }

  test("streaming rate equals batch rate and emits each window exactly once") {
    assertBufferedEqualsBatch("rate(click[1h])", "rate", 3600L)
  }

  test("streaming quantile_over_time equals batch (buffered multiset)") {
    assertBufferedEqualsBatch("quantile_over_time(0.5, click[1d])", "qot", 86400L)
  }

  test("streaming mad_over_time equals batch (double discrete median)") {
    assertBufferedEqualsBatch("mad_over_time(click[1d])", "mad", 86400L)
  }

  test("streaming delta and deriv equal batch") {
    assertBufferedEqualsBatch("delta(purchase[6h])", "delta", 21600L)
    assertBufferedEqualsBatch("deriv(click[1d])", "deriv", 86400L)
  }

  test("streaming irate and changes equal batch (instant + lag folds)") {
    assertBufferedEqualsBatch("irate(click[1d])", "irate", 86400L)
    assertBufferedEqualsBatch("changes(click[1d])", "changes", 86400L)
  }

  test("foldQuantile: -0.0 normalizes to 0.0 and φ past the end emits no row") {
    import PromqlStream.{RateSample, foldQuantile}
    // -0.0 sorts BELOW 0.0 under Scala's total ordering, but SQL
    // comparison (the batch evaluator) treats them as equal — the fold
    // must never emit a -0.0 representative a batch groupBy would not
    val mixed = Seq(RateSample(1L, 1L, -0.0), RateSample(2L, 2L, 0.0),
      RateSample(3L, 3L, 1.0))
    val got = foldQuantile(mixed, 0.5).get
    assert(got == 0.0 &&
      java.lang.Double.doubleToRawLongBits(got) === 0L,
      s"expected +0.0, got bit pattern of ${got}")
    // φ > 1: position exceeds n; batch emits no row, the stream fold
    // must return None instead of throwing and killing the query
    assert(foldQuantile(mixed, 1.5).isEmpty)
    assert(foldQuantile(mixed, 1.0).contains(1.0))
  }

  test("streaming holt_winters and predict_linear equal batch (sequential folds)") {
    assertBufferedEqualsBatch("holt_winters(purchase[1d], 0.5, 0.3)", "holt", 86400L)
    assertBufferedEqualsBatch("predict_linear(click[1d], 3600)", "predict", 86400L)
  }
}
