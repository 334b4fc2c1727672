package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Multimodal
import SparkFixture.{sf, spark}

/** Image near-dup admission via the 64-bit perceptual hash (round 17;
  * VERDICT r16 #7): the multimodal column rides the SAME width-generic
  * block-LSH admission gate the text simhash uses — the spec pins the
  * pigeonhole join ≡ brute force at Hamming <= d, and the streaming
  * leg doc-for-doc equal to the batch operator.
  */
class MmAdmissionSpec extends AnyFunSuite {

  private val d = 14

  test("phash admission equals brute force at hamming <= d") {
    val verdicts = Multimodal.admission(spark, sf, 80, d)
    // brute force TRUTH: collapsed corpus hashes x delta hashes —
    // bounded crossJoin over distinct 64-bit values (the measurement
    // posture, definitionally exhaustive)
    val hashed = Multimodal.phashPerDoc(spark, sf)
      .withColumn("bucket", graft.pipeline.Dedup.splitBucket(col("doc_id")))
    val corpus = hashed.filter(col("bucket") < 80)
      .groupBy("simhash").agg(min("doc_id").as("cid"))
      .select(col("simhash").as("chash"), col("cid"))
    val delta = hashed.filter(col("bucket") >= 80)
      .select(col("doc_id"), col("simhash"))
    val brute = delta.crossJoin(corpus)
      .withColumn("hd", expr("bit_count(simhash ^ chash)").cast("long"))
      .filter(col("hd") <= d)
      .groupBy("doc_id")
      .agg(min_by(struct(col("hd"), col("cid")),
        struct(col("hd"), col("cid"))).as("best"))
      .select(col("doc_id"), col("best.cid").as("keep_id"),
        col("best.hd").as("hamming"))
    val got = verdicts.filter(col("verdict") === "dup_of_corpus")
      .select("doc_id", "keep_id", "hamming")
    assert(got.exceptAll(brute).count() === 0 &&
      brute.exceptAll(got).count() === 0,
      "block-LSH verdicts must equal the exhaustive truth")
    val nDup = got.count()
    val nKept = verdicts.filter(col("verdict") === "kept").count()
    assert(nDup > 0, "fixture must surface image near-dups")
    assert(nKept > 0, "fixture must keep genuinely novel images")
    assert(nDup + nKept === delta.count(), "every delta doc verdicted")
  }

  test("the streaming leg reproduces the batch verdicts doc-for-doc across a restart") {
    val base = SparkFixture.tmp("mm_neardup_stream")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"
    Files.createDirectories(Paths.get(in))
    // arriving media rows, split into two waves (restart between); the
    // stream reads a flat dir of parquet FILES, so waves stage-and-copy
    val media = graft.pipeline.Multimodal.payloads(spark, sf)
    def landFiles(wave: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"$base/stage_$tag"
      wave.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
    }
    landFiles(media.filter(col("doc_id") % 2 === 0), "w0")
    graft.streaming.NearDupStream.mediaRunOnce(
      spark, in, s"$base/out", s"$base/cp", sf, 80, d)
    landFiles(media.filter(col("doc_id") % 2 === 1), "w1")
    graft.streaming.NearDupStream.mediaRunOnce(
      spark, in, s"$base/out", s"$base/cp", sf, 80, d)
    val streamed = spark.read.parquet(s"$base/out")
      .select("doc_id", "verdict", "keep_id", "hamming")
    val batch = Multimodal.admission(spark, sf, 80, d)
      .select("doc_id", "verdict", "keep_id", "hamming")
    assert(streamed.exceptAll(batch).count() === 0 &&
      batch.exceptAll(streamed).count() === 0,
      "online verdicts must equal the batch operator doc-for-doc")
    assert(streamed.count() > 0)
  }
}
