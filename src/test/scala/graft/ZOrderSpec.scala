package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.ZOrderStore
import SparkFixture.{sf, spark}

class ZOrderSpec extends AnyFunSuite {

  test("interleave is the Morton curve: adjacent grid cells differ locally") {
    import spark.implicits._
    val got = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (65535L, 65535L))
      .toDF("a", "b")
      .select(ZOrderStore.interleave(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // z(a,b): bit i of a -> 2i, bit i of b -> 2i+1
    assert(got === Seq(0L, 1L, 2L, 3L, (1L << 32) - 1))
  }

  test("writeZOrdered on an empty frame fails descriptively, not with an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("event_id", "user_id", "us")
    val e = intercept[IllegalArgumentException] {
      ZOrderStore.writeZOrdered(empty, SparkFixture.tmp("z_empty"), 1)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("z-ordered files form compact boxes: BOTH dimensions prune") {
    val path = ZOrderStore.ensureWritten(spark, sf, numFiles = 16)
    val boxes = ZOrderStore.fileBoxes(path, "user_id", "us")
    assert(boxes.size >= 8, s"want many files, got ${boxes.size}")
    // the q_zorder_scan predicate box
    val (uidLo, uidHi) = (10L, 19L)
    val (usLo, usHi) = (1704153600000000L, 1704240000000000L)
    def intersects(b: ((Long, Long), (Long, Long))): Boolean =
      b._1._1 <= uidHi && b._1._2 >= uidLo && b._2._1 <= usHi && b._2._2 >= usLo
    val hit = boxes.count(intersects)
    // a 2-D selective box must not touch most files — this is the whole
    // point of the layout; a 1-D sort on (event_type, user_id, ts)
    // spreads the time range across every file
    assert(hit < boxes.size / 2,
      s"z-layout should skip most files: $hit of ${boxes.size} intersect")
    // each dimension ALONE prunes too (boxes are compact in both)
    val hitUid = boxes.count(b => b._1._1 <= uidHi && b._1._2 >= uidLo)
    val hitUs = boxes.count(b => b._2._1 <= usHi && b._2._2 >= usLo)
    assert(hitUid < boxes.size, "user_id dimension must prune some files")
    assert(hitUs < boxes.size, "time dimension must prune some files")
  }

  test("z scan equals the plain 2-D filter on the source table") {
    val got = ZOrderStore.scan(spark, sf,
      10L, 19L, 1704153600000000L, 1704240000000000L, numFiles = 16)
    val want = Tables.events(spark, sf)
      .filter(col("user_id").between(10L, 19L) &&
        unix_micros(col("ts")).between(1704153600000000L, 1704240000000000L))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("ingest-sink compaction re-clusters streamed files into 2-D boxes") {
    val base = SparkFixture.tmp("zcompact")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$base/in"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$base/in/events.parquet"))
    // live leg: the streaming ingest writes the date-partitioned sink
    graft.streaming.Ingest.runOnce(spark, s"$base/in", s"$base/sink", s"$base/cp")
    // compaction leg: one Morton-ordered store behind the writer
    val zpath = ZOrderStore.compactIngested(spark, s"$base/sink",
      s"$base/zstore", numFiles = 16)
    // nothing lost, nothing invented
    val got = spark.read.parquet(zpath)
      .select("event_id", "user_id", "event_type", "value")
    val want = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // and the compacted layout prunes on both axes, like the store
    val boxes = ZOrderStore.fileBoxes(zpath, "user_id", "us")
    assert(boxes.size >= 8)
    val (usLo, usHi) = (1704153600000000L, 1704240000000000L)
    val hitUid = boxes.count(b => b._1._1 <= 19L && b._1._2 >= 10L)
    val hitUs = boxes.count(b => b._2._1 <= usHi && b._2._2 >= usLo)
    assert(hitUid < boxes.size && hitUs < boxes.size,
      s"both dims must prune: uid $hitUid / us $hitUs of ${boxes.size}")
  }

  test("both scan predicates reach the parquet scan (PushedFilters)") {
    val plan = SparkFixture.planOf(ZOrderStore.scan(spark, sf,
      10L, 19L, 1704153600000000L, 1704240000000000L, numFiles = 16))
    assert(plan.contains("PushedFilters"), plan)
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("user_id") && pushed.contains("us"),
      s"both dims must push down: $pushed")
  }
}
