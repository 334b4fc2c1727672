package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.BpeStream
import SparkFixture.{sf, spark}

class BpeStreamSpec extends AnyFunSuite {

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"bpestream_$tag")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(in))
    (in, out, cp)
  }

  test("streamed tokenization equals batch bpe_tokens doc-for-doc, across a restart") {
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
    BpeStream.runOnce(spark, in, out, cp, sf)
    land(docs.filter(col("doc_id") % 2 === 1), "w1")
    BpeStream.runOnce(spark, in, out, cp, sf)
    val got = spark.read.parquet(out)
      .select("doc_id", "n_words", "n_bpe_tokens")
    val want = graft.pipeline.Bpe.tokenCounts(spark, sf)
    assert(want.count() > 0)
    assert(got.count() === want.count(), "one row per tokenized doc")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "streamed token counts must equal the batch operator's rows")
    // merges genuinely applied online: the streamed corpus total sits
    // strictly under the merge-free (character-symbol) tokenization
    val gotTotal = got.agg(sum("n_bpe_tokens")).head().getLong(0)
    val rawTotal = graft.pipeline.Bpe.tokenCountsOf(docs, Seq.empty)
      .agg(sum("n_bpe_tokens")).head().getLong(0)
    assert(gotTotal < rawTotal, s"merges must compress: $gotTotal vs $rawTotal")
  }
}
