package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.AnnIngest

/** Streaming IVF posting maintenance: stream-built store equals the
  * batch assignment; incremental batches append exactly once.
  */
class AnnIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.sf

  test("stream-maintained postings equal the batch cell assignment") {
    val base = SparkFixture.tmp("ann_ingest")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val out = s"$base/out"; val chk = s"$base/chk"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$in/embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    AnnIngest.runOnce(spark, in, out, chk)
    val got = AnnIngest.readPostings(spark, out)
      .select(col("vec_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    val want = graft.pipeline.Similarity
      .assignCells(spark.read.parquet(s"$sf/embeddings.parquet"))
      .select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
    assert(got.length === want.length)
    assert(got.toSeq === want.toSeq)

    // incremental batch: shifted copies arrive; a second pass appends
    // exactly those rows and leaves the first batch untouched
    spark.read.parquet(s"$sf/embeddings.parquet")
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .coalesce(1).write.parquet(s"$base/stage")
    val part = new java.io.File(s"$base/stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, Paths.get(s"$in/embeddings2.parquet"))
    AnnIngest.runOnce(spark, in, out, chk)
    val after = AnnIngest.readPostings(spark, out)
    assert(after.count() === 2L * want.length)
    // a shifted copy has the same embedding → the same cell
    val cellsByVec = after.select(col("vec_id"), col("cell").cast("int"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    want.foreach { case (v, c) =>
      assert(cellsByVec(v + 1000000L) === c, s"shifted copy of $v moved cell")
    }
  }

  test("stream-built store serves IVF search at batch recall") {
    val base = SparkFixture.tmp("ann_ingest_search")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    val in = s"$base/in"; val out = s"$base/out"; val chk = s"$base/chk"
    Files.createDirectories(Paths.get(in))
    Files.copy(Paths.get(s"$sf/embeddings.parquet"),
      Paths.get(s"$in/embeddings.parquet"), StandardCopyOption.REPLACE_EXISTING)
    AnnIngest.runOnce(spark, in, out, chk)

    // the served search is row-for-row the batch IVF result: same
    // assignment kernel, same quantized cosine, same rank order
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "rnk", "cosine").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .sortBy(t => (t._1, t._3))
    val got = rows(AnnIngest.search(spark, out))
    val want = rows(graft.pipeline.Similarity.ivf(spark, sf))
    assert(got.toSeq === want.toSeq)

    // ...and therefore sits behind the SAME quality gate: measured
    // recall@5 against the exact brute-force truth equals the batch
    // recall record's ann_ivf figure
    val truth = graft.pipeline.Similarity.bruteForce(spark, sf)
      .filter(col("rnk") <= 5).select("qid", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = got.count(t => truth((t._1, t._2)))
    val streamRecall = hits.toDouble / truth.size
    val batchIvf = graft.pipeline.Similarity.recallAtK(spark, sf)
      .filter(col("method") === "ann_ivf")
      .agg(sum("n_hits").cast("double") / sum("n_truth").cast("double"))
      .collect()(0).getDouble(0)
    assert(streamRecall === batchIvf,
      s"stream recall $streamRecall != batch ivf recall $batchIvf")
  }
}
