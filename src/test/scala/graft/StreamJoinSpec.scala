package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamJoin
import org.scalatest.funsuite.AnyFunSuite
import SparkFixture.{sf, spark, planOf}

class StreamJoinSpec extends AnyFunSuite {

  private def stageInput(tag: String): String = {
    val in = SparkFixture.tmp(s"streamjoin_$tag/in")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(SparkFixture.tmp(s"streamjoin_$tag")))
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    in
  }

  test("stream-stream interval join emits exactly the batch pair set") {
    val in = stageInput("pairs")
    val q = StreamJoin.intervalPairs(spark, in).writeStream
      .format("memory").queryName("ssj_stream")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("ssj_stream")
    val ev = Tables.events(spark, sf)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        unix_micros(col("ts")).as("p_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), unix_micros(col("ts")).as("c_us"),
        col("value"))
    val want = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_us") >= col("p_us") &&
        col("c_us") < col("p_us") + 3600000000L)
      .select("purchase_id", "user_id", "p_us", "c_us", "value")
    assert(got.count() > 0, "pair set must be non-empty")
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("the join plan carries watermarks on both sides (state eviction)") {
    val in = stageInput("plan")
    val plan = StreamJoin.intervalPairs(spark, in)
      .queryExecution.analyzed.toString
    assert("EventTimeWatermark".r.findAllIn(plan).length === 2, plan)
  }
}
