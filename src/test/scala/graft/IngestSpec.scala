package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Ingest
import SparkFixture.{sf, spark}

class IngestSpec extends AnyFunSuite {

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"ingest_$tag")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(in))
    (in, out, cp)
  }

  test("availableNow ingest lands every event date-partitioned") {
    val (in, out, cp) = freshDirs("basic")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Ingest.runOnce(spark, in, out, cp)
    val got = Ingest.readBack(spark, out)
    assert(got.count() === Tables.events(spark, sf).count())
    // sink must be date-partitioned (directory pruning for time queries)
    val dateDirs = new java.io.File(out).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("date="))
    assert(dateDirs > 1, "expected multiple date= partitions")
  }

  test("time filters on the ingested layout prune whole date partitions") {
    val (in, out, cp) = freshDirs("prune")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Ingest.runOnce(spark, in, out, cp)
    val pruned = Ingest.readBack(spark, out)
      .filter(col("date") === lit("2024-01-02").cast("date"))
    val plan = SparkFixture.planOf(pruned)
    assert(plan.contains("PartitionFilters: [isnotnull(date"), plan)
    // directory-level pruning: only the matching date= partition is read
    val m = "Location: InMemoryFileIndex.*".r.findFirstIn(plan)
    assert(pruned.count() ===
      Tables.events(spark, sf).filter(to_date(col("ts")) === "2024-01-02").count())
  }

  test("streaming chunk convert: one part per batch, compaction = source") {
    val (in, out, cp) = freshDirs("chunkconv")
    // two disjoint halves of the events table arrive as two files → with
    // maxFilesPerTrigger=1, two micro-batches → two part flushes
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
        col("event_type"), col("value"), lit("{}").as("props"))
    def stage(half: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = SparkFixture.tmp(s"ingest_chunkconv/stage_$name")
      half.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$name.parquet"))
    }
    stage(ev.filter(col("event_id") % 2 === 0), "even")
    stage(ev.filter(col("event_id") % 2 === 1), "odd")
    Ingest.chunkConvert(spark, in, out, cp)
    import graft.sources.PartWriter
    val parts = PartWriter.listParts(out)
    assert(parts.map(_._1) === Seq(0, 1), s"expected part.0 + part.1, got $parts")
    assert(new java.io.File(s"$out/part.0.metadata").isFile)
    // compact and decode: every source sample survives, bit-exact
    PartWriter.compact(spark, out)
    val back = spark.read.parquet(s"$out/compact.parquet")
      .select(col("user_id"), col("event_type"),
        explode(graft.functions.ChunkOps.xorDecode(col("chunk"))).as("s"))
      .select(col("user_id"), col("event_type"),
        col("s.us").as("us"), col("s.value").as("value"))
    val src = Tables.events(spark, sf).select(
      col("user_id"), col("event_type"),
      unix_micros(col("ts")).as("us"), col("value"))
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("duplicate delivery is deduped by event_id within the watermark") {
    val (in, out, cp) = freshDirs("dup")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events1.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$in/events2.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Ingest.runOnce(spark, in, out, cp)
    val got = Ingest.readBack(spark, out)
    val expect = Tables.events(spark, sf).count()
    assert(got.count() === expect,
      s"duplicated input must collapse to $expect rows, got ${got.count()}")
    assert(got.select("event_id").distinct().count() === expect)
  }
}
