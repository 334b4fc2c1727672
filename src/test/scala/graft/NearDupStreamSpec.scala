package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.NearDupStream
import SparkFixture.{sf, spark}

/** Online near-dup admission (streaming/NearDupStream.scala): arriving
  * docs verdicted against the served corpus simhash index; a backlog
  * run must equal the batch twin (pipeline/Dedup.nearDupAdmission)
  * doc-for-doc, including across a restart.
  */
class NearDupStreamSpec extends AnyFunSuite {

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"neardupstream_$tag")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(in))
    (in, out, cp)
  }

  test("streamed admission equals batch nearDupAdmission, across a restart") {
    val (in, out, cp) = freshDirs("equiv")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def land(wave: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"${in}_stage_$tag"
      wave.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
    }
    land(docs.filter(col("doc_id") % 2 === 0), "w0")
    NearDupStream.runOnce(spark, in, out, cp, sf)
    land(docs.filter(col("doc_id") % 2 === 1), "w1")
    NearDupStream.runOnce(spark, in, out, cp, sf)
    val got = spark.read.parquet(out)
      .select("doc_id", "simhash", "verdict", "keep_id", "hamming")
    val want = graft.pipeline.Dedup.nearDupAdmission(spark, sf)
    // the fixture must exercise both verdicts
    assert(want.filter(col("verdict") === "dup_of_corpus").count() > 0)
    assert(want.filter(col("verdict") === "kept").count() > 0)
    assert(got.count() === want.count(),
      "one verdict per delta doc, none double-emitted")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "streamed verdicts must equal the batch twin's rows")
  }

  test("a sink holding FLAT parquet parts is refused, not mixed into") {
    val (in, out, _) = freshDirs("flatguard")
    // an old non-batch-keyed layout left bare part files at the root:
    // writing batch= dirs beside them would double-count on read
    spark.range(1).toDF("doc_id").coalesce(1).write.parquet(out)
    assert(new java.io.File(out).listFiles()
      .exists(f => f.isFile && f.getName.startsWith("part-")))
    intercept[IllegalArgumentException] {
      NearDupStream.runOnce(spark, in, out, s"$out/../cp_flat", sf)
    }
  }

  test("state is index-bounded: verdicts need no cross-batch doc state") {
    // the same corpus index judges a batch of ONE doc identically to
    // the backlog run — per-arrival work touches only the index
    val idx = NearDupStream.corpusIndex(spark, sf)
    val batch = graft.pipeline.Dedup.nearDupAdmission(spark, sf)
      .select(col("doc_id").as("want_id"), col("verdict").as("want_verdict"),
        col("keep_id").as("want_keep"))
    val one = batch.limit(1).collect()(0)
    val doc = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") === one.getLong(0))
    val v = graft.pipeline.Dedup.admissionVerdicts(
      graft.pipeline.Dedup.simhashOf(doc), idx).collect()(0)
    assert(v.getAs[String]("verdict") === one.getString(1))
  }

  test("embedding admission: streamed verdicts equal the batch twin across a restart") {
    val (in, out, cp) = freshDirs("emb")
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
    def land(wave: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"${in}_stage_$tag"
      wave.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
    }
    land(vecs.filter(col("vec_id") % 2 === 0), "w0")
    graft.streaming.NearDupStream.embRunOnce(spark, in, out, cp, sf)
    land(vecs.filter(col("vec_id") % 2 === 1), "w1")
    graft.streaming.NearDupStream.embRunOnce(spark, in, out, cp, sf)
    val got = spark.read.parquet(out)
      .select("vec_id", "verdict", "keep_id", "cosine")
    val want = graft.pipeline.Dedup.embAdmission(spark, sf)
    assert(want.count() > 0, "fixture must produce verdicts")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "streamed embedding verdicts must equal the batch twin")
  }

  test("embedding admission is sound and bucket-complete") {
    import graft.pipeline.{Dedup, Similarity}
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .withColumn("split", Dedup.splitBucket(col("vec_id")))
    val corpus = emb.filter(col("split") < 80).select("vec_id", "embedding")
    val delta = emb.filter(col("split") >= 80).select("vec_id", "embedding")
    val verdicts = Dedup.embAdmissionVerdicts(
      delta, Dedup.embAdmissionIndex(corpus))
    // soundness: every emitted dup's cosine is a TRUE >=-threshold pair
    // against the claimed keep (brute-force recompute)
    val dot = graft.functions.VectorOps.dot _
    val keeps = corpus.groupBy("embedding").agg(min("vec_id").as("keep_id"))
      .select(col("keep_id"), col("embedding").as("kemb"))
    val recheck = verdicts.filter(col("verdict") === "dup_of_corpus")
      .join(delta, Seq("vec_id")).join(keeps, Seq("keep_id"))
      .withColumn("true_cos",
        dot(col("embedding"), col("kemb")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
            sqrt(dot(col("kemb"), col("kemb")))))
    assert(recheck.count() > 0, "fixture must emit dups")
    assert(recheck.filter(col("cosine") =!= col("true_cos")).count() === 0,
      "reported cosine must equal the brute-force recompute")
    assert(recheck.filter(col("true_cos") < 0.3).count() === 0,
      "no emitted pair may sit under the threshold")
    // bucket-completeness: a kept doc has NO same-bucket corpus vector
    // at >= threshold (misses are cross-bucket only — the indexed trade)
    val keptB = verdicts.filter(col("verdict") === "kept")
      .join(delta, Seq("vec_id"))
      .select(col("vec_id"), col("embedding"),
        Similarity.planeBucket(col("embedding")).as("bucket"))
    val corpusB = keeps.select(col("keep_id"), col("kemb"),
      Similarity.planeBucket(col("kemb")).as("bucket"))
    val missed = keptB.join(corpusB, Seq("bucket"))
      .withColumn("cos",
        dot(col("embedding"), col("kemb")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
            sqrt(dot(col("kemb"), col("kemb")))))
      .filter(col("cos") >= 0.3)
    assert(missed.count() === 0,
      "a kept doc must have no same-bucket corpus match at threshold")
  }

  test("re-running the drained stream emits nothing new") {
    val (in, out, cp) = freshDirs("drain")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"))
    NearDupStream.runOnce(spark, in, out, cp, sf)
    val n1 = spark.read.parquet(out).count()
    NearDupStream.runOnce(spark, in, out, cp, sf)
    assert(spark.read.parquet(out).count() === n1)
  }
}
