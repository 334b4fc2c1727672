package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Scan
import graft.pipeline.{Dedup, Retrieval, Similarity}
import graft.sources._
import SparkFixture.{sf, spark}

/** The write-once [[Artifact]] contract: a regenerated source is never
  * served from a stale store, a failed build leaves no artifact, and
  * concurrent writers leave exactly one.
  */
class ArtifactSpec extends AnyFunSuite {

  private def freshRoot(): String =
    Files.createTempDirectory(Paths.get(SparkFixture.storeRoot), "root").toString

  private def session(root: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.store.root", root)
    s
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Writes `df` as `<dir>/<name>.parquet/part-00000.parquet`, the
    * fixed part name a non-Spark writer reuses on every regeneration.
    */
  private def writeSource(df: DataFrame, dir: String, name: String): Unit = {
    val stage = s"$dir/_stage_$name"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new File(stage).listFiles().find(_.getName.endsWith(".parquet")).get
    val out = new File(s"$dir/$name.parquet")
    org.apache.commons.io.FileUtils.deleteQuietly(out)
    out.mkdirs()
    Files.move(part.toPath, new File(out, "part-00000.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteQuietly(new File(stage))
  }

  /** Half of the sf0.001 tables by id parity: generation 0 or 1. `tpch`
    * splits lineitem by supplier (an order split keeps every trading
    * nation pair, so both halves rank alike) and copies the other TPC-H
    * tables.
    */
  private def writeGeneration(dir: String, gen: Int, tables: Seq[String]): Unit = {
    val parity = (c: String) => col(c) % 2 === gen
    tables.foreach {
      case "tpch" =>
        writeSource(Tables.lineitem(spark, sf).filter(parity("l_suppkey")), dir, "lineitem")
        Seq("orders", "customer", "supplier", "part", "nation", "region").foreach(t =>
          writeSource(spark.read.parquet(s"$sf/$t.parquet"), dir, t))
      case "events" =>
        writeSource(Tables.events(spark, sf).filter(parity("event_id"))
          .select(col("event_id"), col("ts_ns").as("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")), dir, "events")
      case "documents" =>
        writeSource(Tables.documents(spark, sf).filter(parity("doc_id")), dir, "documents")
      case "embeddings" =>
        writeSource(spark.read.parquet(s"$sf/embeddings.parquet")
          .filter(parity("vec_id")), dir, "embeddings")
    }
  }

  private val E = Seq("events")
  private val D = Seq("documents")
  private val V = Seq("embeddings")

  // one case per write-once store: (name, source tables, read)
  private val stores: Seq[(String, Seq[String], (SparkSession, String) => Any)] = Seq(
    ("ChunkStore", E, (s, d) => rows(ChunkStore.roundtrip(s, d))),
    ("ZOrderStore", E, (s, d) => rows(s.read.parquet(ZOrderStore.ensureWritten(s, d, 2)))),
    ("DownsampleStore 300 s", E, (s, d) => rows(DownsampleStore.table(s, d))),
    ("DownsampleStore 1 h", E, (s, d) => rows(DownsampleStore.table1h(s, d))),
    ("DownsampleStore 1 d", E, (s, d) => rows(DownsampleStore.table1d(s, d))),
    ("EvoStore", E, (s, d) => rows(EvoStore.read(s, d))),
    ("SnapshotStore", E, (s, d) => rows(SnapshotStore.readAt(s, d, 3))),
    ("Scan.propsWriteShred", E, (s, d) => rows(Scan.propsWriteShred(s, d))),
    ("SortedWriter fragments", E, (s, d) => rows(s.read.parquet(SortedWriter.fragmented(s, d)))),
    ("Retrieval inverted index", D, (s, d) => rows(Retrieval.indexTable(s, d))),
    ("Retrieval positional index", D, (s, d) => rows(Retrieval.posIndexTable(s, d))),
    ("Dedup.indexMaintain", D, (s, d) => rows(Dedup.indexMaintain(s, d))),
    ("Similarity.trainedCentroids", V,
      (s, d) => Similarity.trainedCentroids(s, d, k = 4, iters = 1)),
    ("Similarity.trainedCentroidsSampled", V,
      (s, d) => Similarity.trainedCentroidsSampled(s, d, k = 4, iters = 1, samplePct = 50)),
    ("Similarity PQ codebooks", V, (s, d) => Similarity.trainedPqCodebooks(s, d, iters = 1)))

  private val T = Seq("tpch")

  // one case per source-keyed memo, read through an entry that uses it,
  // and the Graph entries that materialize inside the query
  private val memos: Seq[(String, Seq[String], String)] = Seq(
    ("Memo Dedup.collapsed", D, "dedup_containment"),
    ("Memo Dedup.candidates", D, "dedup_minhash_lsh"),
    ("Memo Dedup.verified", D, "dedup_ngram_jaccard"),
    ("Memo Dedup.taggedVecs", V, "dedup_embedding"),
    ("Memo Graph.supportedEdges", T, "q_components"),
    ("Memo Similarity.cells", V, "ann_ivf"),
    ("Memo Similarity.recallTruth", V, "ann_recall"),
    ("Memo Similarity.sq8Stats", V, "ann_sq8"),
    ("Memo Curation.dsirWeights", D, "doc_dsir"),
    ("Memo Multimodal.payloads", D, "mm_decode_dims"),
    ("Memo Multimodal.audioPayloads", D, "mm_audio_meta"),
    ("Memo Pca.trainComponents", V, "emb_pca"),
    ("Memo Bpe.learnedMerges", D, "bpe_train"),
    ("Memo Wordpiece.learnedMerges", D, "wordpiece_train"),
    ("Memo Unigram.learnedPieces", D, "unigram_train"),
    ("Graph.pagerank", T, "q_pagerank"),
    ("Graph.triangleCount", T, "q_triangle_count"))

  private val cases = stores ++ memos.map { case (name, tables, entry) =>
    (s"$name ($entry)", tables, (s: SparkSession, d: String) => rows(SparkEntry.queries(entry)(s, d)))
  }

  for ((name, tables, read) <- cases)
    test(s"$name: a rewritten source is read fresh, not from the stale store") {
      val tag = name.replaceAll("[^A-Za-z0-9]", "_")
      val dir = SparkFixture.tmp("artifact_src_" + tag)
      writeGeneration(dir, 0, tables)
      val before = read(spark, dir)
      writeGeneration(dir, 1, tables)
      val after = read(spark, dir)
      // the oracle: the same read over a dir that only ever held the new
      // generation, in a fresh store root (Spark's cache is shared by
      // every session and matches plans by path, so a fresh root alone
      // would not do)
      val fresh = SparkFixture.tmp("artifact_gen1_" + tag)
      writeGeneration(fresh, 1, tables)
      val want = read(session(freshRoot()), fresh)
      assert(after != before, "the two generations must differ")
      assert(after == want, "the store served the old source")
    }

  test("the directory fingerprint sees a same-name, same-size rewrite") {
    val dir = Files.createDirectories(Paths.get(SparkFixture.tmp("artifact_fp")))
    val part = dir.resolve("part-00000.parquet")
    Files.write(part, Array.fill[Byte](64)(1))
    val fp1 = Artifact.fingerprint(dir)
    Files.write(part, Array.fill[Byte](64)(2))
    Files.setLastModifiedTime(part, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(part).toMillis + 10000L))
    assert(Artifact.fingerprint(dir) != fp1)
  }

  test("a build that throws leaves no artifact, and the next call builds") {
    val root = freshRoot()
    val s = session(root)
    val src = s"$sf/events.parquet"
    val builds = new AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      Artifact(s, "crash", src) { out =>
        builds.incrementAndGet()
        spark.range(10).write.parquet(out)
        throw new IllegalStateException("crash after the part files")
      }
    }
    assert(e.getMessage.contains("crash"))
    assert(!new File(Artifact.path(s, "crash", src)).exists(), "no final dir")
    assert(new File(root).list().isEmpty, "no temp dir left behind")
    val out = Artifact(s, "crash", src) { out =>
      builds.incrementAndGet()
      spark.range(10).write.parquet(out)
    }
    assert(builds.get() === 2)
    assert(out === Artifact.path(s, "crash", src))
    assert(spark.read.parquet(out).count() === 10L)
  }

  test("two sessions building ChunkStore concurrently leave one store") {
    val root = freshRoot()
    val (a, b) = (session(root), session(root))
    val (na, nb) = Par.both(spark)(
      ChunkStore.table(a, sf).count(), ChunkStore.table(b, sf).count())
    val names = new File(root).list().toSeq
    assert(names.count(_.startsWith("chunks_")) === 1, names)
    assert(!names.exists(_.contains(".tmp-")), names)
    assert(na === nb)
  }

  test("racing writers of one key: both build, one commits, both get its path") {
    val root = freshRoot()
    val s = session(root)
    val src = s"$sf/events.parquet"
    val inBuild = new CountDownLatch(2)
    def build(v: Long)(out: String): Unit = {
      spark.range(v).write.parquet(out)
      inBuild.countDown()
      assert(inBuild.await(60, TimeUnit.SECONDS), "both writers must overlap")
    }
    val (pa, pb) = Par.both(spark)(
      Artifact(s, "race", src)(build(3)), Artifact(s, "race", src)(build(5)))
    assert(pa === pb)
    assert(new File(root).list().toSeq === Seq(new File(pa).getName))
    assert(Set(3L, 5L).contains(spark.read.parquet(pa).count()))
  }
}
