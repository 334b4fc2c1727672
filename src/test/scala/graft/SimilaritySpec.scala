package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Similarity
import SparkFixture.{sf, spark, planOf}

class SimilaritySpec extends AnyFunSuite {

  test("bruteForce returns a full ranked top-10 per query") {
    val df = Similarity.bruteForce(spark, sf)
    val perQ = df.groupBy("qid").count().collect()
    assert(perQ.length === 5) // vec_id < 5
    assert(perQ.forall(_.getLong(1) === 10L))
    // rank order must follow cosine desc
    val viol = df.as("a").join(df.as("b"),
      col("a.qid") === col("b.qid") && col("a.rnk") < col("b.rnk") &&
        col("a.cosine") < col("b.cosine") - lit(1e-12))
    assert(viol.count() === 0)
  }

  test("bruteForce broadcasts the query side") {
    assert(planOf(Similarity.bruteForce(spark, sf)).contains("Broadcast"))
  }

  test("rangeSearch returns exactly the pairs at/above tau, with no shuffle") {
    val tau = 0.1 // permissive: sf0.001's 50 vectors must yield rows
    val got = Similarity.rangeSearch(spark, sf, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty)
    got.foreach { case (q, v, c) =>
      assert(q !== v); assert(c >= tau, s"($q,$v) cosine $c < tau")
    }
    // completeness + exactness against the brute-force scorer: the
    // range result IS the threshold cut of the full pair set
    val all = Similarity.bruteForce(spark, sf) // top-10 of 49 — may clip
    val fromTopk = all.filter(col("cosine") >= tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    // every qualifying top-k pair appears with the identical cosine
    val gotSet = got.toSet
    fromTopk.foreach(p => assert(gotSet.contains(p), s"missing $p"))
    // zero-shuffle plan: a broadcast join and no Exchange
    val plan = planOf(Similarity.rangeSearch(spark, sf, tau))
    assert(plan.contains("Broadcast"))
    assert(!plan.contains("Exchange hashpartitioning"),
      "range search must not shuffle")
  }

  test("LSH range search is a sound bucket-restricted subset of exact range") {
    val tau = 0.1
    val exact = Similarity.rangeSearch(spark, sf, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.rangeSearchLsh(spark, sf, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(lsh.nonEmpty)
    // soundness: every indexed hit is an exact hit with the same cosine
    lsh.foreach(p => assert(exact.contains(p), s"unsound hit $p"))
    // and the restriction really is the bucket: misses must be
    // cross-bucket pairs
    val bucketOf = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.planeBucket(col("embedding")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lshSet = lsh.toSet
    exact.foreach { case p @ (q, v, _) =>
      if (!lshSet.contains(p))
        assert(bucketOf(q) !== bucketOf(v), s"same-bucket pair $p missing")
    }
  }

  test("lsh results are a subset of same-bucket exact results") {
    val lsh = Similarity.lsh(spark, sf)
    // every returned neighbor must share the query's bucket
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), Similarity.planeBucket(col("embedding")).as("bucket"))
    val withB = lsh
      .join(emb.withColumnRenamed("vec_id", "qid").withColumnRenamed("bucket", "qb"), "qid")
      .join(emb, "vec_id")
    assert(withB.filter(col("bucket") =!= col("qb")).count() === 0)
  }

  test("ivf probes only the query's cell and ranks by exact cosine") {
    val df = Similarity.ivf(spark, sf)
    assert(df.groupBy("qid").count().filter(col("count") > 5).count() === 0)
    assert(df.filter(col("cosine") > 1.0 + 1e-9).count() === 0)
  }

  test("ivf nprobe=2 recall >= nprobe=1 recall against brute force") {
    val bf = Similarity.bruteForce(spark, sf)
      .filter(col("rnk") <= 5).select("qid", "vec_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "vec_id").join(bf, Seq("qid", "vec_id")).count()
    val r1 = recall(Similarity.ivf(spark, sf))
    val r2 = recall(Similarity.ivfProbe2(spark, sf))
    assert(r2 >= r1, s"nprobe=2 recall $r2 < nprobe=1 recall $r1")
  }

  test("lsh top-1 matches bruteForce when the true NN shares the bucket") {
    // consistency: any (qid, vec_id) in lsh that also appears in bruteForce
    // top-10 must have the identical cosine (same exact-decimal arithmetic).
    val bf = Similarity.bruteForce(spark, sf).select(
      col("qid"), col("vec_id"), col("cosine").as("c_bf"))
    val both = Similarity.lsh(spark, sf).join(bf, Seq("qid", "vec_id"))
    assert(both.filter(abs(col("cosine") - col("c_bf")) > 1e-12).count() === 0)
  }

  test("scale knobs: fewer planes widen buckets, cells follow sqrt(N)") {
    // 2^4 = 16 buckets ⊇ candidates of 2^8 = 256 buckets (prefix planes),
    // so shrinking planes can only grow each query's candidate set
    val wide = Similarity.lsh(spark, sf, numPlanes = 4, k = 1000).count()
    val narrow = Similarity.lsh(spark, sf, numPlanes = 8, k = 1000).count()
    assert(wide >= narrow)
    // knobbed IVF still returns ranked results
    assert(Similarity.ivf(spark, sf, numCells = 4, k = 3)
      .groupBy("qid").count().filter(col("count") > 3).count() === 0)
    assert(Similarity.suggestedCells(1000000L) === 1000)
    assert(Similarity.suggestedCells(0L) === 1)
    // planes track log2(N / targetBucket): constant expected bucket
    // population as N grows (the 10x-soak outlier's fix)
    assert(Similarity.suggestedPlanes(500L) === 3)
    assert(Similarity.suggestedPlanes(64L) === 1)
    assert(Similarity.suggestedPlanes(0L) === 1)
    assert(Similarity.suggestedPlanes(1L << 26) === 20) // 64M vecs -> 1M buckets
    assert(Similarity.suggestedPlanes(10L * (1L << 26)) -
      Similarity.suggestedPlanes(1L << 26) <= 4) // 10x data ≈ +3-4 planes
    // the auto variant equals the explicit-planes call at this corpus
    val n = Tables.embeddings(spark, sf).count()
    val auto = graft.pipeline.Dedup.embeddingNearDupAuto(spark, sf)
    val explicit = graft.pipeline.Dedup.embeddingNearDup(
      spark, sf, Similarity.suggestedPlanes(n))
    assert(auto.exceptAll(explicit).count() === 0)
    assert(explicit.exceptAll(auto).count() === 0)
  }

  test("k-means training is deterministic and beats formula centroids") {
    val c1 = Similarity.trainCentroids(spark, sf, k = 8, iters = 2)
    val c2 = Similarity.trainCentroids(spark, sf, k = 8, iters = 2)
    assert(c1 === c2, "two training runs must produce identical centroids")
    assert(c1.length === 8)
    assert(c1.forall(_.length === Similarity.Dim))
    // the trained searcher must actually find true neighbors
    val bf = Similarity.bruteForce(spark, sf)
      .filter(col("rnk") <= 5).select("qid", "vec_id")
    def recall(df: org.apache.spark.sql.DataFrame): Long =
      df.select("qid", "vec_id").join(bf, Seq("qid", "vec_id")).count()
    val trained = recall(Similarity.ivfTrained(spark, sf))
    assert(trained > 0, "trained IVF must find true neighbors")
    // each query emits at most k results, ranked
    val df = Similarity.ivfTrained(spark, sf)
    assert(df.groupBy("qid").count().filter(col("count") > 5).count() === 0)
  }

  test("trained centroids persist write-once; reuse plans no k-means jobs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    spark.conf.set("spark.graft.store.root", tmp)
    try {
      val c1 = Similarity.trainedCentroids(spark, sf, k = 8, iters = 2)
      val stores = new java.io.File(tmp).list().filter(_.startsWith("ivf_centroids_"))
      assert(stores.length === 1, "training must persist exactly one centroid table")
      // same-session reuse: the memo returns the SAME index, zero Spark jobs
      assert(Similarity.trainedCentroids(spark, sf, k = 8, iters = 2) eq c1)
      // fresh-JVM path: a new session has no memo; count the jobs a
      // reuse needs — the parquet read is 1-2 jobs; training would need
      // >= 1 + iters (seed collect + one aggregate per iteration)
      val fresh = spark.newSession()
      fresh.conf.set("spark.graft.store.root", tmp)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val c3 = Similarity.trainedCentroids(fresh, sf, k = 8, iters = 2)
        Thread.sleep(1000) // let the async listener bus drain
        assert(c3 === c1, "a read-back index must equal the trained one bit-exactly")
        assert(jobs.get() <= 2,
          s"store reuse must not retrain: ${jobs.get()} jobs (training needs >= 3)")
      } finally spark.sparkContext.removeSparkListener(listener)
      // the trained searcher works off the persisted index
      assert(Similarity.ivfTrained(spark, sf, numCells = 8, iters = 2).count() > 0)
    } finally spark.conf.set("spark.graft.store.root", SparkFixture.storeRoot)
  }

  // ---- driver-side PQ/IVF reference (mirrors the quantized kernels) ----
  private def loadVecs: Seq[(Long, IndexedSeq[Float])] =
    Tables.embeddings(spark, sf).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toIndexedSeq)
      .sortBy(_._1).toSeq
  private def qSqDist(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
    var acc = 0L
    a.indices.foreach { i =>
      val d = a(i) - b(i)
      acc += math.floor(d * d * 16777216.0).toLong
    }
    acc / 16777216.0
  }
  private def pqCb(m: Int, kc: Int): IndexedSeq[Double] =
    IndexedSeq.tabulate(Similarity.PqSubDim)(j => Similarity.pqComponent(m, kc, j))
  private def cellOf(v: IndexedSeq[Float]): Int = {
    val ds = (0 until Similarity.NumCells).map { k =>
      qSqDist(v.map(_.toDouble),
        IndexedSeq.tabulate(Similarity.Dim)(i => Similarity.centroidComponent(k, i)))
    }
    ds.indexOf(ds.min)
  }
  private def pqDistsD(v: IndexedSeq[Double], m: Int): IndexedSeq[Double] =
    (0 until Similarity.PqCodes).map(kc => qSqDist(
      (0 until Similarity.PqSubDim).map(j => v(m * Similarity.PqSubDim + j)),
      pqCb(m, kc)))
  private def pqEncodeD(v: IndexedSeq[Double]): IndexedSeq[Int] =
    (0 until Similarity.PqSub).map { m =>
      val d = pqDistsD(v, m); d.indexOf(d.min)
    }

  /** reference ADC ranking over a candidate filter; `xform` maps each
    * vector to the encoded representation (identity for plain PQ,
    * v − centroid[cell] for residual IVFPQ)
    */
  private def adcReference(vecs: Seq[(Long, IndexedSeq[Float])], k: Int,
                           candidates: (Long, Long) => Boolean,
                           xform: (Long, IndexedSeq[Float]) => IndexedSeq[Double] =
                             (_, v) => v.map(_.toDouble)): Seq[(Long, Long, Int, Double)] = {
    val enc = vecs.map { case (id, v) => id -> xform(id, v) }.toMap
    val codes = enc.map { case (id, v) => id -> pqEncodeD(v) }
    vecs.take(5).flatMap { case (qid, _) =>
      val dt = (0 until Similarity.PqSub).map(m => pqDistsD(enc(qid), m))
      vecs.filter(x => x._1 != qid && candidates(qid, x._1)).map { case (vid, _) =>
        val adist = (0 until Similarity.PqSub)
          .map(m => dt(m)(codes(vid)(m))).reduce(_ + _)
        (qid, vid, adist)
      }.sortBy { case (_, vid, d) => (d, vid) }
        .take(k).zipWithIndex
        .map { case ((q, vid, d), i) => (q, vid, i + 1, d) }
    }
  }

  test("pq equals a driver-side encode + ADC reference") {
    val vecs = loadVecs
    val want = adcReference(vecs, 10, (_, _) => true).sortBy(x => (x._1, x._3))
    val got = Similarity.pq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(got === want)
  }

  test("ivfPq equals the ADC reference restricted to the query's cell") {
    val vecs = loadVecs
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }.toMap
    val want = adcReference(vecs, 5, (q, v) => cells(q) == cells(v))
      .sortBy(x => (x._1, x._3))
    val got = Similarity.ivfPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(got === want)
    // the cell prune is real: candidates shrink vs the full-corpus scan
    assert(got.size <= adcReference(vecs, 5, (_, _) => true).size)
  }

  test("trained PQ codebooks persist write-once and cut quantization error") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq").toString
    spark.conf.set("spark.graft.store.root", tmp)
    try {
      val cb1 = Similarity.trainedPqCodebooks(spark, sf, iters = 2)
      assert(cb1.length === Similarity.PqSub)
      assert(cb1.forall(_.length === Similarity.PqCodes))
      // same-session reuse returns the identical object; fresh-JVM
      // path (a new session, no memo) reads the store without retraining
      assert(Similarity.trainedPqCodebooks(spark, sf, iters = 2) eq cb1)
      val fresh = spark.newSession()
      fresh.conf.set("spark.graft.store.root", tmp)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val cb2 = Similarity.trainedPqCodebooks(fresh, sf, iters = 2)
        Thread.sleep(1000)
        assert(cb2 === cb1, "read-back codebooks must equal the trained ones")
        assert(jobs.get() <= 2,
          s"store reuse must not retrain: ${jobs.get()} jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
      // trained codebooks fit the data better than the formula book:
      // mean assignment distance (sum over subspaces of the min code
      // distance) must drop
      val vecs = loadVecs
      def assignErr(cb: (Int, Int) => IndexedSeq[Double]): Double =
        vecs.map { case (_, v) =>
          (0 until Similarity.PqSub).map { m =>
            val sub = (0 until Similarity.PqSubDim)
              .map(j => v(m * Similarity.PqSubDim + j).toDouble)
            (0 until Similarity.PqCodes).map(kc => qSqDist(sub, cb(m, kc))).min
          }.sum
        }.sum / vecs.size
      val trainedErr = assignErr((m, kc) => cb1(m)(kc))
      val formulaErr = assignErr(pqCb)
      assert(trainedErr < formulaErr,
        s"trained $trainedErr should beat formula $formulaErr")
      // the searcher works off the persisted book
      assert(Similarity.pqTrained(spark, sf, iters = 2).count() > 0)
    } finally spark.conf.set("spark.graft.store.root", SparkFixture.storeRoot)
  }

  test("nprobe=2 residual IVFPQ: per-probed-cell tables equal the reference") {
    val vecs = loadVecs
    def cellsRanked(v: IndexedSeq[Float]): IndexedSeq[Int] = {
      val ds = (0 until Similarity.NumCells).map { k =>
        qSqDist(v.map(_.toDouble),
          IndexedSeq.tabulate(Similarity.Dim)(i => Similarity.centroidComponent(k, i)))
      }
      (0 until Similarity.NumCells).sortBy(k => (ds(k), k)).toIndexedSeq
    }
    def residual(v: IndexedSeq[Float], cell: Int): IndexedSeq[Double] =
      v.indices.map(i => v(i).toDouble - Similarity.centroidComponent(cell, i))
    val ownCell = vecs.map { case (id, v) => id -> cellsRanked(v).head }.toMap
    val codes = vecs.map { case (id, v) =>
      id -> pqEncodeD(residual(v, ownCell(id))) }.toMap
    val want = vecs.take(5).flatMap { case (qid, qv) =>
      val probed = cellsRanked(qv).take(2).toSet
      // one distance table per probed cell, from q's residual THERE
      val dt = probed.map(c => c ->
        (0 until Similarity.PqSub).map(m => pqDistsD(residual(qv, c), m))).toMap
      vecs.filter(x => x._1 != qid && probed.contains(ownCell(x._1)))
        .map { case (vid, _) =>
          val t = dt(ownCell(vid))
          val adist = (0 until Similarity.PqSub)
            .map(m => t(m)(codes(vid)(m))).reduce(_ + _)
          (qid, vid, adist)
        }.sortBy { case (_, vid, d) => (d, vid) }
        .take(5).zipWithIndex
        .map { case ((q, vid, d), i) => (q, vid, i + 1, d) }
    }.toSeq.sortBy(x => (x._1, x._3))
    val got = Similarity.ivfPqProbe(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(got === want)
    // widening the probe can only widen the candidate set
    val got1 = Similarity.ivfPqResidual(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand2 = vecs.take(5).flatMap { case (qid, qv) =>
      val probed = cellsRanked(qv).take(2).toSet
      vecs.filter(x => x._1 != qid && probed.contains(ownCell(x._1)))
        .map(x => (qid, x._1))
    }.toSet
    got1.foreach { case (qid, vid) =>
      // every nprobe=1 RESULT row was an nprobe=2 candidate
      assert(cand2.contains((qid, vid)), s"($qid, $vid)")
    }
  }

  test("residual IVFPQ equals the reference with v - centroid[cell] encoding") {
    val vecs = loadVecs
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }.toMap
    def residual(id: Long, v: IndexedSeq[Float]): IndexedSeq[Double] =
      v.indices.map(i =>
        v(i).toDouble - Similarity.centroidComponent(cells(id), i))
    val want = adcReference(vecs, 5, (q, v) => cells(q) == cells(v), residual)
      .sortBy(x => (x._1, x._3))
    val got = Similarity.ivfPqResidual(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(got === want)
  }

  test("pq scan is code-only: one shuffle (final ranking window)") {
    val plan = planOf(Similarity.pq(spark, sf))
    // queries broadcast into the candidate scan
    assert(plan.contains("Broadcast"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"pq should shuffle only for the per-query ranking:\n$plan")
  }

  test("sq8: half-step reconstruction, deterministic, one-shuffle plan") {
    // reconstruction error bound: code = floor of a monotone map into
    // [0, 255], recon = cell midpoint -> |recon - x| <= step/2 (+fp eps)
    val rec = Similarity.sq8Recon(spark, sf)
      .collect().map(r => (r.getSeq[Float](1), r.getSeq[Double](2)))
    val byDim = rec.map(_._1.toIndexedSeq).toIndexedSeq.transpose
    val mn = byDim.map(_.min.toDouble)
    val mx = byDim.map(_.max.toDouble)
    rec.foreach { case (x, rv) =>
      x.indices.foreach { j =>
        val step = (mx(j) - mn(j)) / 255.0
        assert(math.abs(rv(j) - x(j).toDouble) <= 0.5 * step + 1e-9,
          s"dim $j: x=${x(j)} recon=${rv(j)} step=$step")
      }
    }
    // deterministic across runs
    val a = Similarity.sq8(spark, sf)
    val b = Similarity.sq8(spark, sf)
    assert(a.exceptAll(b).count() === 0)
    assert(b.exceptAll(a).count() === 0)
    // full ranked top-10 per query, like bruteForce
    val perQ = a.groupBy("qid").count().collect()
    assert(perQ.length === 5 && perQ.forall(_.getLong(1) === 10L))
    // plan: queries broadcast into ONE corpus scan; the only shuffle is
    // the per-query ranking window
    val plan = planOf(Similarity.sq8(spark, sf))
    assert(plan.contains("Broadcast"))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"sq8 should shuffle only for ranking:\n$plan")
  }

  test("ivfSq8 equals the sq8 scoring restricted to the query's cell") {
    val vecs = loadVecs
    val cells = vecs.map { case (id, v) => id -> cellOf(v) }.toMap
    val rec = Similarity.sq8Recon(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](2).toIndexedSeq).toMap
    def qDot(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var acc = 0L
      a.indices.foreach(i => acc += math.floor(a(i) * b(i) * 16777216.0).toLong)
      acc / 16777216.0
    }
    val want = vecs.take(5).flatMap { case (qid, qv) =>
      val qd = qv.map(_.toDouble)
      val qn = qDot(qd, qd)
      vecs.filter(x => x._1 != qid && cells(x._1) == cells(qid))
        .map { case (vid, _) =>
          val rv = rec(vid)
          val cos = qDot(qd, rv) / (math.sqrt(qn) * math.sqrt(qDot(rv, rv)))
          (vid, cos)
        }
        .sortBy { case (vid, c) => (-c, vid) }.take(5).zipWithIndex
        .map { case ((vid, c), i) => (qid, vid, i + 1, c) }
    }.sortBy(x => (x._1, x._3))
    val got = Similarity.ivfSq8(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(x => (x._1, x._3)).toSeq
    assert(got === want)
    // the cell prune is real: fewer candidates ranked than a full scan
    assert(got.nonEmpty && got.size <= 25)
  }

  test("recall@k is complete, bounded, and monotone in probe width") {
    val r = Similarity.recallAtK(spark, sf).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
        x.getDouble(4)))
    // 11 methods x 5 queries, every query present for every method
    assert(r.length === 55)
    assert(r.map(_._1).distinct.sorted ===
      Array("ann_hamming", "ann_ivf", "ann_ivf_nprobe2", "ann_ivf_nprobe4",
        "ann_ivf_sq8", "ann_ivfpq", "ann_ivfpq_nores4", "ann_ivfpq_res",
        "ann_lsh", "ann_pq", "ann_sq8"))
    r.foreach { case (_, _, nTruth, nHits, recall) =>
      assert(nTruth === 5L)
      assert(nHits >= 0L && nHits <= nTruth)
      assert(recall === nHits.toDouble / nTruth)
    }
    // nprobe2's candidate set contains ivf's own-cell set, and a truth
    // vector in the candidates always survives the top-k cut (anything
    // beating it in-candidates beats it globally too) — so per-query
    // recall is structurally monotone in probe width
    val ivf1 = r.filter(_._1 == "ann_ivf").map(x => x._2 -> x._4).toMap
    val ivf2 = r.filter(_._1 == "ann_ivf_nprobe2").map(x => x._2 -> x._4).toMap
    ivf1.foreach { case (qid, h1) => assert(ivf2(qid) >= h1, s"qid $qid") }
  }

  test("hammingAnn is exactly brute force restricted to the Hamming ball") {
    // driver-side sign sketches from the raw embeddings
    val embs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def sketch(v: Seq[Float]): (Long, Long) = {
      def half(h: Int): Long =
        (0 until 32).map(i => if (v(i + 32 * h) > 0) 1L << i else 0L).sum
      (half(0), half(1))
    }
    def ham(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    // the FULL exact pair set with identical quantized cosines (tau
    // below any possible cosine), cut driver-side by the Hamming ball
    // and re-ranked: hammingAnn must reproduce it row-for-row
    val all = Similarity.rangeSearch(spark, sf, -1.1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = all
      .filter { case (q, v, _) =>
        ham(sketch(embs(q)), sketch(embs(v))) <= Similarity.HammingRadius }
      .groupBy(_._1).toSeq.flatMap { case (_, ps) =>
        ps.sortBy(p => (-p._3, p._2)).take(5).zipWithIndex
          .map { case ((q, v, c), i) => (q, v, i + 1, c) }
      }.toSet
    val got = Similarity.hammingAnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(4)))
      .toSet
    assert(got === expect)
    // the ball is a real filter on this corpus, not the whole pair set
    val ballSize = all.count { case (q, v, _) =>
      ham(sketch(embs(q)), sketch(embs(v))) <= Similarity.HammingRadius }
    assert(ballSize < all.length, "radius must exclude some pairs")
  }

  test("knnGraph restricted to the query vectors IS the lsh top-k") {
    // two independent implementations of "top-k among bucket-mates":
    // the whole-corpus graph (TopKPerKey self-join) sliced to the 5
    // query vectors must equal the per-query lsh leg at the same k
    val graph = Similarity.knnGraph(spark, sf)
      .filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getDouble(2)))
      .toSet
    val lsh = Similarity.lsh(spark, sf, k = Similarity.KnnGraphK).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(graph === lsh)
    // degree bound holds corpus-wide
    val deg = Similarity.knnGraph(spark, sf).groupBy("vec_id").count()
      .collect()
    assert(deg.nonEmpty)
    assert(deg.forall(_.getLong(1) <= Similarity.KnnGraphK))
  }

  test("knnGraphAuto is knnGraph at the corpus-sized plane count") {
    val n = Tables.embeddings(spark, sf).count()
    val planes = Similarity.suggestedPlanes(n)
    assert(planes !== Similarity.NumPlanes,
      "test corpus must exercise a non-default plane count")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(rows(Similarity.knnGraphAuto(spark, sf)) ===
      rows(Similarity.knnGraph(spark, sf, numPlanes = planes)))
  }

  test("hammingAnn recall@5 meets the calibrated floor at sf0.01") {
    // radius 28/64 was calibrated to the ivfpq_res_trained recall tier
    // on the RAW corpus (sign bits survive near-orthogonality better
    // than hyperplane buckets: the measurement below sits at 0.84 where
    // raw-corpus LSH degenerates to ≤0.3)
    val r = avgRecall("/root/testdata/sf0.01")
    assert(r("ann_hamming") >= 0.8, r.toString)
  }

  private def avgRecall(dir: String): Map[String, Double] =
    Similarity.recallAtK(spark, dir)
      .groupBy("method").agg(avg("recall").as("recall"))
      .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap

  test("clustered corpus: tuned legs hit their stated recall targets") {
    // STATED TARGETS (the quality contract of §2.G on a corpus where
    // cosine mass concentrates): exact-ranking IVF at nprobe=4 ≥ 0.95,
    // non-residual multiprobe IVFPQ ≥ 0.8 (FAISS by_residual=false —
    // untrained formula codebooks rank raw vectors well, residuals
    // poorly; training fixes residuals and is modeled by the trained
    // entries), full-scan ADC ≥ 0.85, hyperplane LSH ≥ 0.8. Asserted at
    // sf0.01 — the exact corpus the driver's ann_recall_clustered
    // record hashes (5 queries make per-sf variance large, so the spec
    // pins the record's own scale, like BloomReadSpec).
    val r = avgRecall("/root/testdata/sf0.01" + Tables.ClusteredTag)
    assert(r("ann_ivf_nprobe4") >= 0.95, r.toString)
    // SQ8 scans every candidate at 8-bit precision: near-exact ranking
    assert(r("ann_sq8") >= 0.95, r.toString)
    // IVF+SQ8 recall is bounded by the cell prune (measured: equal to
    // plain ivf at this corpus — 8-bit codes rank the cell exactly)
    assert(r("ann_ivf_sq8") >= 0.6, r.toString)
    assert(r("ann_ivfpq_nores4") >= 0.8, r.toString)
    assert(r("ann_pq") >= 0.85, r.toString)
    assert(r("ann_lsh") >= 0.8, r.toString)
    // and the raw near-orthogonal table stays the documented degenerate
    // case — if THIS rises, the testdata changed under us
    val raw = avgRecall("/root/testdata/sf0.01")
    assert(raw("ann_lsh") <= 0.3 && raw("ann_ivfpq_nores4") <= 0.5,
      s"raw corpus should stay degenerate: $raw")
  }

  test("trained residual codebooks recover the recall residual encoding costs") {
    // The FAISS-default IVFPQ (residual codes + books TRAINED on the
    // residual distribution, multi-probe) on the clustered corpus. Two
    // measured facts anchor this test: (1) an UNTRAINED residual book
    // stalls at 0.64 (the book never saw the residual distribution);
    // (2) training at the 4-bit demo size makes it WORSE (0.28 — the
    // k-means book collapses onto cluster structure, so topic-mates
    // share codes and intra-topic ranking is tie-break noise). The
    // trained 6-bit book (PqCodesTrained=64) is the fix: 0.84 here.
    // The code-bit budget, not training alone, is the recall lever —
    // the reason FAISS defaults to 8-bit subquantizers.
    val tmp = java.nio.file.Files.createTempDirectory("graft_respq").toString
    spark.conf.set("spark.graft.store.root", tmp)
    try {
      val dir = "/root/testdata/sf0.01" + Tables.ClusteredTag
      val trained = Similarity.recallTrained(spark, dir)
        .groupBy("method").agg(avg("recall").as("recall"))
        .collect().map(x => x.getString(0) -> x.getDouble(1)).toMap
      assert(trained.keySet === Set("ann_ivf_trained", "ann_pq_trained",
        "ann_ivfpq_res_trained"))
      // the trained coarse quantizer nails the 10 topics outright
      assert(trained("ann_ivf_trained") >= 0.95, trained.toString)
      assert(trained("ann_ivfpq_res_trained") >= 0.8, trained.toString)
      // strictly above the untrained residual leg (same corpus)
      val untrained = avgRecall(dir)("ann_ivfpq_res")
      assert(trained("ann_ivfpq_res_trained") > untrained + 0.1,
        s"6-bit training must recover recall: trained=$trained untrained=$untrained")
      // the collapse fact itself: a 4-bit trained residual book is
      // WORSE than the 4-bit untrained one — training concentrates
      // codes on cluster structure when the bit budget is too small
      val cb4 = Similarity.trainedResidualPqCodebooks(spark, dir,
        codes = Similarity.PqCodes)
      assert(cb4.forall(_.length === Similarity.PqCodes))
      val r4 = Similarity.ivfPqResidualTrained(spark, dir,
        codes = Similarity.PqCodes)
      val bf = Similarity.bruteForce(spark, dir)
        .filter(col("rnk") <= 5).select("qid", "vec_id")
      val hits4 = bf.join(r4.select("qid", "vec_id"),
        Seq("qid", "vec_id"), "left_semi").count()
      assert(hits4 / 25.0 < untrained,
        s"4-bit trained (${hits4 / 25.0}) should collapse below untrained ($untrained)")
      // write-once: a fresh-JVM path (a new session, no memo) reads the
      // persisted books without retraining (training needs >= 1 + iters
      // jobs)
      val fresh = spark.newSession()
      fresh.conf.set("spark.graft.store.root", tmp)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        Similarity.trainedResidualPqCodebooks(fresh, dir)
        Thread.sleep(1000)
        assert(jobs.get() <= 2,
          s"store reuse must not retrain: ${jobs.get()} jobs")
      } finally spark.sparkContext.removeSparkListener(listener)
    } finally spark.conf.set("spark.graft.store.root", SparkFixture.storeRoot)
  }

  test("clustered corpus: tuned legs prune candidates, not just recall") {
    val dir = sf + Tables.ClusteredTag
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    val brute = 5L * (n - 1) // the brute-force pair count for 5 queries
    // ivf nprobe=4: candidates = population of each query's 4 cells
    val cd = Similarity.cellDists(spark, dir)
    val sizes = graft.plans.TopK
      .perKey(cd, Seq(col("vec_id")), Seq(col("dist"), col("cell")), 1)
      .groupBy("cell").count()
    val probed = graft.plans.TopK
      .perKey(cd.filter(col("vec_id") < 5), Seq(col("vec_id")),
        Seq(col("dist"), col("cell")), 4)
      .select(col("vec_id").as("qid"), col("cell"))
    val ivfCand = probed.join(sizes, "cell").agg(sum("count")).head().getLong(0)
    assert(ivfCand.toDouble <= brute / 2.0,
      s"nprobe4 must halve candidates at worst: $ivfCand vs $brute")
    // lsh: candidates = the query-bucket populations
    val b = emb.select(col("vec_id"),
      Similarity.planeBucket(col("embedding")).as("bucket"))
    val lshCand = b.filter(col("vec_id") < 5)
      .join(b.groupBy("bucket").count(), "bucket")
      .agg(sum("count")).head().getLong(0)
    assert(lshCand.toDouble <= brute / 4.0,
      s"lsh candidates $lshCand vs brute $brute")
  }
}
