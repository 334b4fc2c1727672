package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TextAnalysis

/** Winnowing fingerprints: structural invariants on the real corpus +
  * the MOSS detection guarantee on a crafted shared-run fixture.
  */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.sf

  test("winnow emits bounded, deterministic per-doc fingerprints") {
    val rows = TextAnalysis.winnow(spark, sf).collect()
    assert(rows.length === spark.read.parquet(s"$sf/documents.parquet").count())
    rows.foreach { r =>
      val (grams, fps) = (r.getLong(1), r.getLong(2))
      assert(fps >= 1L && fps <= math.max(grams - TextAnalysis.WinnowW + 1, 1),
        s"doc ${r.getLong(0)}: $fps fps from $grams grams")
    }
    // determinism: a second evaluation produces identical digests
    val again = TextAnalysis.winnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(3))).toMap
    rows.foreach(r => assert(again(r.getLong(0)) === r.getString(3)))
  }

  test("documents sharing a w+2-word run share a fingerprint (MOSS guarantee)") {
    val dir = SparkFixture.tmp("winnow_fixture")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    import spark.implicits._
    // a 6-word shared run (w + 2 = 6 at w = 4, 3-grams) embedded in
    // otherwise-disjoint documents
    val shared = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, s"one two three $shared four five six seven", "en", "a", 1L),
      (1L, s"red blue green $shared yellow purple orange pink", "en", "a", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.write.parquet(s"$dir/documents.parquet")
    val fp = TextAnalysis.winnowPairs(spark, dir).collect()
    assert(fp.exists(r => r.getLong(0) === 0L && r.getLong(1) === 1L &&
      r.getLong(2) >= 1L),
      s"no shared fingerprint: ${fp.mkString(",")}")
  }

  test("posting-list cap drops boilerplate-only pairs, keeps rare-run pairs") {
    val dir = SparkFixture.tmp("winnow_cap_fixture")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    import spark.implicits._
    // 6 docs share ONE boilerplate run (its fingerprints' posting
    // lists have length 6 > cap 4); docs 10 and 11 also share a rare
    // run held by exactly those two. Vocabularies are otherwise
    // disjoint, so boilerplate fingerprints are the hot keys' ONLY
    // source of cross-doc sharing.
    val boiler = "terms of service apply all rights reserved"
    val rare = "rosetta granite basalt quartzite marble slate"
    val docs = (0L until 6L).map { i =>
      (i, s"u$i v$i w$i $boiler x$i y$i z$i", "en", "a", 1L)
    } ++ Seq(
      (10L, s"aaa bbb ccc $boiler $rare ddd eee fff", "en", "a", 1L),
      (11L, s"ggg hhh iii $boiler $rare jjj kkk lll", "en", "a", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val uncapped = TextAnalysis.winnowPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val capped = TextAnalysis.winnowPairs(spark, dir, maxPostings = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // uncapped: the 8 boilerplate-sharing docs pair all-vs-all (28)
    assert(uncapped.size === 28, s"uncapped: ${uncapped.keySet}")
    // capped: every boilerplate fingerprint is held by 8 > 4 contents
    // and is dropped — only the rare-run pair survives
    assert(capped.keySet === Set((10L, 11L)), s"capped: ${capped.keySet}")
    assert(capped((10L, 11L)) >= 1L)
    // and its count comes from rare-run fingerprints only: strictly
    // fewer shared fingerprints than the uncapped pair
    assert(capped((10L, 11L)) < uncapped((10L, 11L)))
  }
}
