package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Dedup
import SparkFixture.{sf, spark}

class DedupSpec extends AnyFunSuite {

  test("exact dedup partitions the table: copies sum to row count") {
    val df = Dedup.exact(spark, sf)
    val total = df.agg(sum("n_copies")).collect()(0).getLong(0)
    assert(total === Tables.documents(spark, sf).count())
    // content_hash is the group key → must be unique
    assert(df.count() === df.select("content_hash").distinct().count())
  }

  test("minhashLsh emits ordered, distinct candidate pairs") {
    val df = Dedup.minhashLsh(spark, sf)
    assert(df.filter(col("id1") >= col("id2")).count() === 0)
    assert(df.count() === df.distinct().count())
  }

  test("ngramJaccard scores agree with a Scala-side recomputation") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
    assert(pairs.forall(r => r.getDouble(2) >= 0.5 && r.getDouble(2) <= 1.0))
    if (pairs.nonEmpty) {
      val r = pairs.head
      val (id1, id2) = (r.getLong(0), r.getLong(1))
      val texts = Tables.documents(spark, sf)
        .filter(col("doc_id").isin(id1, id2))
        .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text")).toMap
      def sh(t: String): Set[String] = {
        val w = t.split(" ").filter(_.nonEmpty)
        if (w.length < 3) Set.empty
        else w.sliding(3).map(_.mkString(" ")).toSet
      }
      val (a, b) = (sh(texts(id1)), sh(texts(id2)))
      val expect = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(r.getDouble(2) - expect) < 1e-12,
        s"pair ($id1,$id2): got ${r.getDouble(2)}, recomputed $expect")
    }
  }

  test("simhash values are 16-bit and cover all docs") {
    val df = Dedup.simhash(spark, sf)
    assert(df.filter(col("simhash") < 0 || col("simhash") > 0xFFFF).count() === 0)
    assert(df.agg(sum("n_docs")).collect()(0).getLong(0) ===
      Tables.documents(spark, sf).count())
  }

  test("keep-best dedup keeps the highest-quality copy of each group") {
    val kb = Dedup.exactKeepBest(spark, sf)
    val plain = Dedup.exact(spark, sf)
    // same groups, same sizes — only the keep policy differs
    assert(kb.count() === plain.count())
    val sizes = kb.select(col("content_hash"), col("n_copies").as("a"))
      .join(plain.select(col("content_hash"), col("n_copies").as("b")), "content_hash")
    assert(sizes.filter(col("a") =!= col("b")).count() === 0)
    // the kept doc's score is the max in its group
    val scored = graft.pipeline.TextAnalysis.quality(spark, sf).select("doc_id", "score")
    val hashed = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("content_hash"))
      .join(scored, "doc_id")
    val best = hashed.groupBy("content_hash").agg(max("score").as("mx"))
    val kept = kb.join(
      hashed.select(col("doc_id").as("keep_id"), col("content_hash"), col("score")),
      Seq("content_hash", "keep_id"))
    assert(kept.join(best, "content_hash")
      .filter(col("score") < col("mx")).count() === 0)
  }

  test("clusters: both endpoints of every verified pair share a label, " +
      "and the label is the cluster's min doc_id") {
    val cl = Dedup.clusters(spark, sf)
    val pairs = Dedup.ngramJaccard(spark, sf).select("id1", "id2")
    val withLabels = pairs
      .join(cl.select(col("doc_id").as("id1"), col("cluster_id").as("c1")), "id1")
      .join(cl.select(col("doc_id").as("id2"), col("cluster_id").as("c2")), "id2")
    assert(withLabels.filter(col("c1") =!= col("c2")).count() === 0)
    // label is a member of its own cluster and its minimum
    val mins = cl.groupBy("cluster_id").agg(min("doc_id").as("mn"))
    assert(mins.filter(col("cluster_id") =!= col("mn")).count() === 0)
  }

  test("embedding near-dup pairs are symmetric-free and cosine-bounded") {
    val df = Dedup.embeddingNearDup(spark, sf)
    assert(df.filter(col("id1") >= col("id2")).count() === 0)
    assert(df.filter(col("cosine") < 0.3 || col("cosine") > 1.0 + 1e-9).count() === 0)
  }

  test("collapse-first embedding dedup equals the direct join on a duplicated corpus") {
    import graft.pipeline.Similarity
    // 5 exact copies of every vector under fresh vec_ids — the regime
    // where a direct bucket self-join squares its candidate count
    val base = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val dup = (0 until 5).map(i =>
      base.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    val planes = 4
    // reference: the pre-collapse direct plan, written out inline
    val emb = dup.select(col("vec_id"), col("embedding"),
      Similarity.planeBucket(col("embedding"), planes).as("bucket"),
      Similarity.dot("embedding", "embedding").as("norm"))
    val direct = emb.as("a").join(emb.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        (Similarity.dot("a.embedding", "b.embedding") /
          (sqrt(col("a.norm")) * sqrt(col("b.norm")))).as("cosine"))
      .filter(col("cosine") >= 0.3)
    val collapsed = Dedup.embeddingNearDupOf(dup, planes, 0.3)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val expected = direct.collect().map(key).toSet
    val actual = collapsed.collect().map(key).toSet
    // duplication must actually create intra-group (cosine = self) pairs
    assert(expected.exists(_._3 > 0.999), "fixture produced no exact-dup pairs")
    assert(actual === expected)
  }

  test("keep-best is a single scan: one parquet read, one exchange") {
    // formatted explain = tree, blank line, node details; count nodes in
    // the tree section only (details repeat every node name)
    val tree = SparkFixture.planOf(Dedup.exactKeepBest(spark, sf))
      .split("\n\n").head
    val scans = "Scan parquet".r.findAllIn(tree).length
    assert(scans === 1, s"expected one documents scan, got $scans:\n$tree")
    val exchanges = "Exchange".r.findAllIn(tree).length
    assert(exchanges === 1, s"expected one aggregate exchange, got $exchanges:\n$tree")
  }

  test("simhash near-dup: block-LSH finds EXACTLY the brute-force pair set") {
    val near = Dedup.simhashNearDup(spark, sf, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // ground truth: all-pairs over the collected per-doc hashes
    val perDoc = Dedup.simhashPerDoc(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val brute = (for {
      i <- perDoc.indices; j <- (i + 1) until perDoc.length
      h = java.lang.Long.bitCount(perDoc(i)._2 ^ perDoc(j)._2)
      if h <= 2
    } yield (perDoc(i)._1, perDoc(j)._1, h.toLong)).toSet
    assert(brute.nonEmpty, "sf0.001 corpus has hamming<=2 simhash pairs")
    assert(near === brute,
      s"missing=${(brute -- near).take(5)} extra=${(near -- brute).take(5)}")
  }

  test("simhash hash-level pairs account for every doc pair exactly") {
    // the scale surface: Σ cross-pair n1·n2 + Σ diagonal n·(n−1)/2 must
    // equal the doc-pair count — the expansion loses/invents nothing
    val hashes = Dedup.simhashNearHashes(spark, sf, maxDist = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val expanded = hashes.map { case (h1, h2, _, n1, n2) =>
      if (h1 == h2) n1 * (n1 - 1) / 2 else n1 * n2
    }.sum
    val docPairs = Dedup.simhashNearDup(spark, sf, maxDist = 2).count()
    assert(expanded === docPairs)
    assert(hashes.forall { case (h1, h2, ham, _, _) =>
      ham === java.lang.Long.bitCount(h1 ^ h2).toLong && ham <= 2 })
    // the diagonal carries only real duplicate groups
    assert(hashes.filter(t => t._1 == t._2).forall(_._4 >= 2))
  }

  test("content-level verified pairs account for every doc pair exactly") {
    val cps = Dedup.nearDupContents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    val expanded = cps.map { case (c1, c2, _, n1, n2) =>
      if (c1 == c2) n1 * (n1 - 1) / 2 else n1 * n2
    }.sum
    assert(expanded === Dedup.ngramJaccard(spark, sf).count())
    // diagonal rows are real duplicate groups at jaccard exactly 1.0
    assert(cps.filter(t => t._1 == t._2).forall(t => t._4 >= 2 && t._3 === 1.0))
    assert(cps.forall(t => t._3 >= 0.5))
  }

  test("pointer jumping converges in O(log diameter) rounds on a chain") {
    import SparkFixture.spark.implicits._
    // a 200-node chain: worst case for plain neighbor-min (200 rounds)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id1", "id2")
    val (labels, rounds) = Dedup.clustersFromEdges(chain)
    // one component, labeled by its minimum id
    assert(labels.select("cluster_id").distinct().collect()
      .map(_.getLong(0)).toSeq === Seq(0L))
    assert(labels.count() === 200)
    // log2(200) ~ 7.6; allow slack for the +1 fixpoint-detection round
    assert(rounds <= 12, s"expected O(log n) rounds, took $rounds")
  }

  test("LSH banding knobs trade recall: one wide band finds fewer pairs") {
    // 1 band of 8 rows requires ALL 8 minhashes equal — strictly harder
    // than any of 4 bands of 2 matching, so candidates can only shrink
    val strict = Dedup.minhashLsh(spark, sf, numBands = 1, rowsPerBand = 8)
    val default = Dedup.minhashLsh(spark, sf)
    assert(strict.count() <= default.count())
    // a strict pair always has its (m0..m7)-concat band matched in the
    // default banding too (each 2-slice band is a substring match)
    assert(strict.exceptAll(default.select("id1", "id2")).count() === 0)
    // looser threshold knob on embeddings can only add pairs
    val loose = Dedup.embeddingNearDup(spark, sf, threshold = 0.2)
    assert(loose.count() >= Dedup.embeddingNearDup(spark, sf).count())
  }

  test("incremental dedup equals a driver-side delta-vs-corpus reference") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def bucket(id: Long): Long =
      java.lang.Long.parseLong(md5hex(id.toString).substring(0, 4), 16) % 100
    val old = docs.filter { case (id, _) => bucket(id) < 80 }
    val neu = docs.filter { case (id, _) => bucket(id) >= 80 }
    assert(old.nonEmpty && neu.nonEmpty, "split must cut both ways")
    val corpusIdx = old.groupBy(d => md5hex(d._2)).view.mapValues(_.map(_._1).min)
    val deltaMin = neu.groupBy(d => md5hex(d._2)).view.mapValues(_.map(_._1).min)
    val want = neu.map { case (id, t) =>
      val h = md5hex(t)
      corpusIdx.get(h) match {
        case Some(cid) => (id, h, "dup_of_corpus", Some(cid))
        case None if id > deltaMin(h) => (id, h, "dup_within_delta", Some(deltaMin(h)))
        case None => (id, h, "kept", None)
      }
    }.toSet
    val got = Dedup.incremental(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("chash"),
        r.getAs[String]("verdict"),
        if (r.isNullAt(3)) None else Some(r.getAs[Long]("keep_id")))).toSet
    assert(got === want)
    // work is delta-sized: every output row is a delta doc, exactly once
    assert(got.size === neu.length)
  }

  test("line dedup drops lines by document frequency, keeps order") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // minDf=30: site-wide lines (cookie df=250, newsletter df≈167) go,
    // per-source footers (df=25 at the 20-source layout) stay
    val at30 = Dedup.lineDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, text, src) =>
      val r = at30(id)
      val nLines = 2 + (if (id % 2 == 0) 1 else 0) + (if (id % 3 == 0) 1 else 0)
      assert(r.getLong(1) === nLines)
      assert(r.getLong(2) === 2L, s"doc $id must keep body + footer")
      assert(r.getString(3) === md5hex(s"$text\ncopyright $src"))
    }
    // minDf=20: the df=25 footers now cross the threshold too
    val at20 = Dedup.lineDedup(spark, sf, minDf = 20).collect()
      .map(r => r.getLong(0) -> r).toMap
    docs.foreach { case (id, text, _) =>
      assert(at20(id).getLong(2) === 1L)
      assert(at20(id).getString(3) === md5hex(text))
    }
    // minDf above every df: nothing is boilerplate, nothing is dropped
    val atInf = Dedup.lineDedup(spark, sf, minDf = 100000).collect()
    atInf.foreach(r => assert(r.getLong(2) === r.getLong(1)))
  }

  test("semantic dedup groups are topic-pure and keep exactly one member") {
    val out = Dedup.semantic(spark, sf + Tables.ClusteredTag)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getLong(3), r.getString(4), r.getLong(5)))
    val n = Tables.embeddings(spark, sf).count()
    // a verdict for every vector, exactly once
    assert(rows.length.toLong === n)
    assert(rows.map(_._1).distinct.length === rows.length)
    // group sizes are consistent and exactly one kept per group
    rows.groupBy(_._2).foreach { case (gid, ms) =>
      assert(ms.forall(_._3 === ms.length.toLong), s"n_group mismatch in $gid")
      assert(ms.count(_._4 == "kept") === 1, s"group $gid must keep one")
      val keep = ms.find(_._4 == "kept").get._1
      assert(ms.forall(_._5 === keep), s"group $gid keep_id must be the kept member")
      // min-label CC: the group id is the minimum member id
      assert(gid === ms.map(_._1).min)
    }
    // threshold 0.8 sits above the cross-topic cosine ceiling: every
    // multi-member group is topic-pure, and duplicates DO exist
    val labels = Tables.embeddings(spark, sf + Tables.ClusteredTag)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val multi = rows.groupBy(_._2).filter(_._2.length > 1)
    assert(multi.nonEmpty, "the clustered corpus must produce duplicate groups")
    multi.foreach { case (gid, ms) =>
      assert(ms.map(m => labels(m._1)).distinct.length === 1,
        s"group $gid mixes topics")
    }
  }

  test("trained semantic dedup: deterministic, same invariants, sized cells") {
    val dir = sf + Tables.ClusteredTag
    val run1 = Dedup.semanticTrained(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).sortBy(_._1)
    // write-once: a new session (no memo) must reproduce the run from
    // the persisted centroid store bit-for-bit
    val run2 = Dedup.semanticTrained(spark.newSession(), dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).sortBy(_._1)
    assert(run1.sameElements(run2), "trained run must be reproducible")
    val n = Tables.embeddings(spark, sf).count()
    assert(run1.length.toLong === n)
    // k ~ sqrt(N) cells are actually used: the corpus spreads over more
    // cells than the 16 formula centroids could offer
    assert(run1.map(_._2).distinct.length > graft.pipeline.Similarity.NumCells / 2,
      "trained cells must partition the corpus")
    run1.groupBy(_._3).foreach { case (gid, ms) =>
      assert(ms.forall(_._4 === ms.length.toLong))
      assert(ms.count(_._5 == "kept") === 1, s"group $gid must keep one")
      assert(gid === ms.map(_._1).min)
    }
    // threshold-purity is cell-independent: 0.8 > the cross-topic
    // ceiling, so trained groups are topic-pure too
    val labels = Tables.embeddings(spark, dir)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val multi = run1.groupBy(_._3).filter(_._2.length > 1)
    assert(multi.nonEmpty, "trained cells must still surface duplicate groups")
    multi.foreach { case (gid, ms) =>
      assert(ms.map(m => labels(m._1)).distinct.length === 1,
        s"group $gid mixes topics")
    }
  }

  test("containment equals a driver-side recount and is genuinely asymmetric") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // collapse-first, capped posting lists, pairwise intersections —
    // replayed in plain Scala
    val contents = docs.groupBy(_._2).map { case (text, ds) =>
      ds.map(_._1).min -> text
    }
    def shingles(t: String): Set[String] = {
      val ws = t.split(" ").filter(_.nonEmpty)
      if (ws.length < 3) Set.empty
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val sh = contents.map { case (cid, t) => cid -> shingles(t) }
    val posting = sh.toSeq.flatMap { case (cid, ss) => ss.map(_ -> cid) }
      .groupBy(_._1).filter(_._2.size <= Dedup.ContainCap)
      .map { case (k, v) => k -> v.map(_._2).sorted }
    val inter = scala.collection.mutable.Map.empty[(Long, Long), Long]
    posting.values.foreach { cids =>
      for (i <- cids.indices; j <- i + 1 until cids.length)
        inter((cids(i), cids(j))) = inter.getOrElse((cids(i), cids(j)), 0L) + 1
    }
    val want = inter.flatMap { case ((c1, c2), in) =>
      val (n1, n2) = (sh(c1).size.toLong, sh(c2).size.toLong)
      val cont = in.toDouble / math.min(n1, n2).toDouble
      if (cont >= Dedup.ContainTau) Some((c1, c2, in, n1, n2, cont)) else None
    }.toSet
    val got = Dedup.containment(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSet
    assert(got === want)
    assert(got.nonEmpty)
    // the asymmetry: some admitted pair's jaccard is well below its
    // containment — the class MinHash banding (a jaccard estimator)
    // structurally misses
    val asym = got.exists { case (_, _, in, n1, n2, cont) =>
      cont >= 2.0 * (in.toDouble / (n1 + n2 - in).toDouble)
    }
    assert(asym, s"corpus must exhibit containment >> jaccard: $got")
  }
}
