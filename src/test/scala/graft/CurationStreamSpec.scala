package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CurationStream
import SparkFixture.{sf, spark}

class CurationStreamSpec extends AnyFunSuite {

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"curstream_$tag")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(in))
    (in, out, cp)
  }

  test("streaming curation equals the batch pipeline doc-for-doc on a backlog") {
    val (in, out, cp) = freshDirs("backlog")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    CurationStream.runOnce(spark, in, out, cp)
    val got = spark.read.parquet(out)
    // exactly one row per kept DISTINCT content
    assert(got.groupBy("content_hash").count()
      .filter(col("count") > 1).count() === 0)
    // DOC-level equality with the batch pipeline: the deterministic
    // keep rule (min doc_id per content) makes the backlog run equal
    // the batch exact-dedup survivor set under the same quality rules
    // (keep rules restricted to the streamable subset: quality floor +
    // duplicate-word cap)
    val batch = graft.pipeline.Curation.filterVerdict(spark, sf)
      .filter(col("pass_quality") && col("pass_dup"))
      .join(Tables.documents(spark, sf), "doc_id")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(org.apache.spark.sql.functions.min("doc_id").as("doc_id"))
    val gotSet = got.select("content_hash", "doc_id")
    assert(gotSet.exceptAll(batch.select("content_hash", "doc_id")).count() === 0,
      "stream kept a (content, doc) the batch pipeline drops")
    assert(batch.select("content_hash", "doc_id").exceptAll(gotSet).count() === 0,
      "stream dropped a (content, doc) the batch pipeline keeps")
    // every written row carries a passing verdict
    assert(got.filter(col("score") <
      graft.pipeline.Curation.DefaultMinQuality).count() === 0)
    assert(got.filter(col("dup_word_frac") >
      graft.pipeline.Curation.DefaultMaxDupWordFrac).count() === 0)
  }

  test("a second batch of duplicate contents adds nothing") {
    val (in, out, cp) = freshDirs("live")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    CurationStream.runOnce(spark, in, out, cp)
    val n1 = spark.read.parquet(out).count()
    // batch 2: the same documents with shifted ids — all duplicate text
    import spark.implicits._
    val stage = s"${in}_stage"
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("doc_id", col("doc_id") + 1000000L)
      .coalesce(1).write.parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$in/b2.parquet"))
    CurationStream.runOnce(spark, in, out, cp)
    val n2 = spark.read.parquet(out).count()
    assert(n2 === n1, s"duplicate-content batch must add nothing: $n1 -> $n2")
  }

  private def sampleRows(path: String): Set[(Long, String, Double, Double)] =
    spark.read.parquet(path).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Double]("weight"), r.getAs[Double]("skey"))).toSet

  test("online weighted sample snapshot equals the batch draw, across grown input") {
    val k = 25
    val (in, out, cp) = freshDirs("wsample")
    // stage the corpus as two halves so the second run proves state
    // continuity: the online sample over half ∪ half must equal the
    // batch sample over the whole
    val stage1 = s"${in}_h1"; val stage2 = s"${in}_h2"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(stage1)
    docs.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(stage2)
    def moveIn(stage: String, name: String): Unit = {
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(s"$in/$name"))
    }
    moveIn(stage1, "h1.parquet")
    CurationStream.weightedSampleStream(spark, in, out, cp, k)
    // snapshot 1 = batch A-ES over the even half (restrict the full
    // permutation driver-side: Spark gives no order guarantee through
    // a post-limit filter)
    val batchHalf = graft.pipeline.Curation.weightedSample(spark, sf, 500)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .filter(_._1 % 2 == 0)
      .sortBy { case (id, _, _, sk) => (-sk, id) }.take(k).toSet
    assert(sampleRows(out) === batchHalf, "backlog snapshot != batch sample")
    // grow the input; same checkpoint → the state continues the draw
    moveIn(stage2, "h2.parquet")
    CurationStream.weightedSampleStream(spark, in, out, cp, k)
    val batchFull = graft.pipeline.Curation.weightedSample(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
      .toSet
    assert(sampleRows(out) === batchFull,
      "grown-input snapshot != batch sample over the union")
  }
}
