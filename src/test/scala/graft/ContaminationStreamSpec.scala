package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ContaminationStream
import SparkFixture.{sf, spark}

class ContaminationStreamSpec extends AnyFunSuite {

  private def freshDirs(tag: String): (String, String, String) = {
    val base = SparkFixture.tmp(s"contamstream_$tag")
    val in = s"$base/in"; val out = s"$base/out"; val cp = s"$base/cp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(Paths.get(in))
    (in, out, cp)
  }

  test("streamed guard equals batch contamination doc-for-doc, across a restart") {
    val (in, out, cp) = freshDirs("equiv")
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // two arrival waves split by doc_id parity; the second lands after
    // the first AvailableNow pass completes (a stream restart between
    // them — the checkpoint must keep the passes exactly-once)
    def land(wave: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val stage = s"${in}_stage_$tag"
      wave.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(s"$in/$tag.parquet"))
    }
    land(docs.filter(col("doc_id") % 2 === 0), "w0")
    ContaminationStream.runOnce(spark, in, out, cp, sf)
    land(docs.filter(col("doc_id") % 2 === 1), "w1")
    ContaminationStream.runOnce(spark, in, out, cp, sf)
    val got = spark.read.parquet(out)
      .select("doc_id", "n_shared_shingles", "n_eval_docs")
    val want = graft.pipeline.Curation.contamination(spark, sf)
    assert(want.count() > 0, "fixture must exercise the guard")
    assert(got.count() === want.count(),
      "one verdict per contaminated train doc, none double-emitted")
    assert(got.exceptAll(want).count() === 0 &&
      want.exceptAll(got).count() === 0,
      "streamed verdicts must equal the batch operator's rows")
  }

  test("re-running the drained stream emits nothing new") {
    val (in, out, cp) = freshDirs("drain")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$in/documents.parquet"))
    ContaminationStream.runOnce(spark, in, out, cp, sf)
    val n1 = spark.read.parquet(out).count()
    ContaminationStream.runOnce(spark, in, out, cp, sf)
    assert(spark.read.parquet(out).count() === n1)
  }
}
