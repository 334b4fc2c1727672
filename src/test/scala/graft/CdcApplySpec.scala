package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.UpsertStore
import graft.streaming.CdcApply
import org.scalatest.funsuite.AnyFunSuite
import SparkFixture.{sf, spark}

/** Streaming CDC apply: the feed consumer's held state must land
  * exactly on the batch snapshot resolution, including across a
  * checkpoint restart mid-feed.
  */
class CdcApplySpec extends AnyFunSuite {

  private def root(tag: String): String = {
    val r = SparkFixture.tmp(s"cdcapply_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    Files.createDirectories(Paths.get(s"$r/in"))
    r
  }

  private def stageBatch(in: String, n: Int,
                         df: org.apache.spark.sql.DataFrame): Unit =
    df.coalesce(1).write.parquet(s"$in/batch$n")

  // the three producer batches, in the changelog's column shape
  private def b1 = UpsertStore.base(spark, sf)
    .select(col("event_id"), col("version"), col("value"), lit(false).as("deleted"))
  private def b2 = UpsertStore.delta(spark, sf)
    .select(col("event_id"), col("version"), col("value"), lit(false).as("deleted"))
  private def b3 = UpsertStore.tombstones(spark, sf)
    .select(col("event_id"), col("version"), col("value"), col("deleted"))

  private def runAvailable(in: String, ck: String, out: String): Unit = {
    // a memory sink cannot recover from a checkpoint — the restart leg
    // needs a fault-tolerant sink, so emissions append to parquet via
    // foreachBatch (the exactly-once production shape)
    val q = CdcApply(spark, s"$in/*")
      .toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", ck)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.write.mode("append").parquet(out); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("applying the full feed lands exactly on the batch tombstone snapshot; restart mid-feed changes nothing") {
    val r = root("full")
    val (in, ck, out) = (s"$r/in", s"$r/ck", s"$r/out")
    // feed v1+v2, stop (checkpoint), then v3 lands and the stream
    // restarts from the checkpoint — the producer-outage shape
    stageBatch(in, 1, b1)
    stageBatch(in, 2, b2)
    runAvailable(in, ck, out)
    val midEmitted = spark.read.parquet(out).localCheckpoint()
    stageBatch(in, 3, b3)
    runAvailable(in, ck, out)
    // held state = latest emission per key across both runs
    val emitted = spark.read.parquet(out)
    val state = emitted.groupBy("event_id").agg(
      max_by(col("value"), col("version")).as("value"),
      max_by(col("deleted"), col("version")).as("deleted"),
      max("version").as("version"))
    val live = state.filter(!col("deleted"))
      .select("event_id", "value", "version")
    val want = UpsertStore.snapshotAt(spark, sf, 3L)
      .select("event_id", "value", "version")
    assert(live.exceptAll(want).count() === 0)
    assert(want.exceptAll(live).count() === 0)
    // tombstoned keys are retained in state as deletes, not forgotten
    val nDel = UpsertStore.tombstones(spark, sf).count()
    assert(state.filter(col("deleted")).count() === nDel)
    // and the mid-feed state (first run alone) is the v2 snapshot
    val mid = midEmitted.groupBy("event_id").agg(
      max_by(col("value"), col("version")).as("value"),
      max("version").as("version"))
    val wantMid = UpsertStore.snapshotAt(spark, sf, 2L)
      .select("event_id", "value", "version")
    assert(mid.exceptAll(wantMid).count() === 0)
    assert(wantMid.exceptAll(mid).count() === 0)
  }
}
