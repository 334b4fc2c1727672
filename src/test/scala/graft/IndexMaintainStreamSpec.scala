package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.IndexMaintainStream
import SparkFixture.{sf, spark}

/** Online content-index maintenance (streaming/IndexMaintainStream):
  * the served index grows per micro-batch as a queryable store; a
  * one-wave backlog equals the batch twin exactly, multi-wave arrival
  * keeps the content set identical (keep provenance follows arrival
  * order — the first-ingested contract), and drained re-runs append
  * nothing.
  */
class IndexMaintainStreamSpec extends AnyFunSuite {

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"idxstream_$tag")
    val in = s"$base/in"; val store = s"$base/store"; val cp = s"$base/cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(in))
    (in, store, cp)
  }

  private def land(in: String, wave: org.apache.spark.sql.DataFrame,
                   tag: String): Unit = {
    val stage = s"${in}_stage_$tag"
    wave.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
  }

  test("one-wave backlog equals the batch twin row-for-row") {
    val (in, store, cp) = freshDirs("backlog")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"))
    IndexMaintainStream.runOnce(spark, in, store, cp, sf)
    val got = IndexMaintainStream.currentIndex(spark, store)
    val want = graft.pipeline.Dedup.indexMaintain(spark, sf)
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0)
  }

  test("multi-wave arrival: same content set, arrival-order provenance, restart-safe") {
    val (in, store, cp) = freshDirs("waves")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    land(in, docs.filter(col("doc_id") % 2 === 0), "w0")
    IndexMaintainStream.runOnce(spark, in, store, cp, sf)
    land(in, docs.filter(col("doc_id") % 2 === 1), "w1")
    IndexMaintainStream.runOnce(spark, in, store, cp, sf)
    val got = IndexMaintainStream.currentIndex(spark, store)
    val want = graft.pipeline.Dedup.indexMaintain(spark, sf)
    // content set identical whatever the arrival slicing
    assert(got.select("chash").exceptAll(want.select("chash")).count() === 0 &&
      want.select("chash").exceptAll(got.select("chash")).count() === 0)
    // no content appears twice across versions/batches
    assert(got.count() === got.select("chash").distinct().count())
    // every keep_id is a real doc of that content from the right split
    val anchored = got.join(
      docs.select(col("doc_id").as("keep_id"), md5(col("text")).as("chash")),
      Seq("chash", "keep_id"), "left_semi")
    assert(anchored.count() === got.count())
  }

  test("replay hinge: a batch's own prior output is excluded from its anti-join view") {
    val (in, store, cp) = freshDirs("replay")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"))
    IndexMaintainStream.runOnce(spark, in, store, cp, sf)
    val batches = new java.io.File(s"$store/delta").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName)
    assert(batches.nonEmpty)
    val bid = batches.head.stripPrefix("batch=").toLong
    val full = IndexMaintainStream.currentIndex(spark, store)
    val excl = IndexMaintainStream.currentIndex(spark, store, excludeBatch = bid)
    val batchRows = spark.read
      .parquet(s"$store/delta/batch=$bid").count()
    // the excluded view drops exactly that batch's rows — so a replayed
    // foreachBatch re-derives the identical fresh set instead of
    // anti-joining against its own partial output
    assert(full.count() - excl.count() === batchRows)
    assert(batchRows > 0)
  }

  test("drained stream appends nothing; fresh checkpoint over deltas refused") {
    val (in, store, cp) = freshDirs("drain")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"))
    IndexMaintainStream.runOnce(spark, in, store, cp, sf)
    val n1 = IndexMaintainStream.currentIndex(spark, store).count()
    IndexMaintainStream.runOnce(spark, in, store, cp, sf)
    assert(IndexMaintainStream.currentIndex(spark, store).count() === n1)
    // a fresh checkpoint would restart batch ids over existing deltas
    intercept[IllegalArgumentException] {
      IndexMaintainStream.runOnce(spark, in, store, s"${cp}_fresh", sf)
    }
  }
}
