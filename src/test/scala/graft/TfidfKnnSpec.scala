package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Retrieval

/** Invariants of the sparse TF-IDF doc-to-doc KNN. */
class TfidfKnnSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  private val sf = SparkFixture.sf

  test("tfidfKnn emits ranked, self-free neighbors with cosine in (0, 1]") {
    val rows = Retrieval.tfidfKnn(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (d, nbr, cos, rnk) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
      assert(d !== nbr, s"doc $d is its own neighbor")
      assert(cos > 0.0 && cos <= 1.0 + 1e-9, s"cos $cos out of range")
      assert(rnk >= 1 && rnk <= Retrieval.KnnK)
    }
    // per doc: at most k neighbors, ranks contiguous from 1, cosine
    // non-increasing in rank
    rows.groupBy(_.getLong(0)).foreach { case (d, rs) =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.length <= Retrieval.KnnK)
      assert(sorted.map(_.getInt(3)).toSeq === (1 to sorted.length))
      val cs = sorted.map(_.getDouble(2))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"doc $d: cosine not monotone in rank")
    }
  }

  test("neighbors are symmetric within a canopy block") {
    // mirrored scoring: if (a, b) scored, cos(a→b) == cos(b→a)
    // whenever both directions survive their per-doc top-k
    val rows = Retrieval.tfidfKnn(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val both = rows.keys.filter { case (a, b) => rows.contains((b, a)) }
    assert(both.nonEmpty)
    both.foreach { case (a, b) =>
      assert(rows((a, b)) === rows((b, a)))
    }
  }

  test("block-size cap cuts hot-block pair generation, keeps small blocks") {
    val dir = SparkFixture.tmp("tfidf_cap_fixture")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    import spark.implicits._
    // 8 template docs whose two dominant (repeated) terms agree — one
    // hot block of 8 — plus 2 docs sharing a different dominant pair
    // (block of 2). Filler terms are unique per doc so dominance is
    // unambiguous and blocks don't merge.
    val docs = (0L until 8L).map { i =>
      (i, s"spam spam spam eggs eggs eggs f$i g$i", "en", "a", 1L)
    } ++ Seq(
      (20L, "lore lore lore myth myth myth h20 k20", "en", "a", 1L),
      (21L, "lore lore lore myth myth myth h21 k21", "en", "a", 1L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val uncapped = Retrieval.tfidfKnn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = Retrieval.tfidfKnn(spark, dir, maxBlock = 4L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: hot-block docs have neighbors; the small block pairs up
    assert(uncapped.exists(_._1 < 8L))
    assert(uncapped.contains((20L, 21L)) && uncapped.contains((21L, 20L)))
    // capped: the 8-doc block exceeds the cap — no pairs generated
    // from it — while the 2-doc block is untouched
    assert(capped === Set((20L, 21L), (21L, 20L)), s"capped: $capped")
  }
}
