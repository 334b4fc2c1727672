package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Par, Tables}

/** Similarity search over the embeddings table (Array[Float], dim=64).
  *
  * Three tiers:
  *  - bruteForce: exact cosine top-k — the correctness baseline; O(Q·N).
  *  - lsh: random-hyperplane buckets — probe only the query's bucket.
  *  - ivf: coarse-quantizer cells — assign once, probe the query's cell.
  * LSH/IVF are the 100 TB path: candidate sets shrink from N to
  * N/2^planes (resp. N/K), and both candidate joins are plain hash joins
  * on the bucket/cell key.
  *
  * Numeric determinism: every dot product / distance goes through the
  * quantized-integer kernel (graft.functions.VectorKernels — Σ ⌊p·2²⁴⌋,
  * order- and engine-independent); hyperplanes/centroids come from
  * integer formulas, not RNG, so the oracle can reproduce them exactly.
  */
object Similarity {

  val Dim = 64

  /** Default hyperplane count: 2^8 = 256 buckets. A scale knob — at N
    * vectors aim for 2^planes ≈ N / desired-bucket-size, so bucket-local
    * work stays bounded as N grows.
    */
  val NumPlanes = 8

  /** Default coarse-quantizer cell count. Real IVF guidance: cells ∝ √N
    * (so probe cost ≈ N/√N = √N per cell) — see [[suggestedCells]]. 16
    * fits the test corpus; a trained index at 100 TB would pass the
    * k-means centroid table instead of the integer-formula centroids.
    */
  val NumCells = 16

  /** cells ∝ √N: the standard IVF sizing rule. */
  def suggestedCells(n: Long): Int =
    math.max(1, math.round(math.sqrt(n.toDouble)).toInt)

  /** planes = ⌈log₂(N / targetBucket)⌉: keeps the EXPECTED bucket
    * population near `targetBucket` as N grows, so the bucket-local
    * all-pairs residual of the LSH near-dup join stays
    * O(N · targetBucket) total instead of O(N²/2^planes) blowing up
    * when a fixed plane count meets 1000× the data. (The 10× soak's one
    * structural outlier was exactly this: fixed planes = 8 made
    * dedup_embedding's candidate count grow quadratically.)
    */
  def suggestedPlanes(n: Long, targetBucket: Int = 64): Int =
    math.max(1, math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
      / math.log(2.0)).toInt)

  /** Deterministic pseudo-random hyperplane component, p-th plane, i-th
    * dim: integer in [-6, 6].
    */
  def planeComponent(p: Int, i: Int): Int = (p * 97 + i * 31) % 13 - 6

  /** Deterministic IVF centroid component in [-1, 1]. */
  def centroidComponent(k: Int, i: Int): Double = ((k * 53 + i * 17) % 11 - 5) / 5.0

  /** Order-independent dot product of two array columns — the native
    * `DecimalDot` expression (graft.functions.VectorOps), codegen'd and
    * bit-identical to the quantized floor-sum the oracle SQL uses.
    */
  def dot(a: String, b: String): Column =
    graft.functions.VectorOps.dot(col(a), col(b))

  private def litVector(components: IndexedSeq[Double]): Column =
    array(components.map(lit): _*)

  /** LSH bucket id: sign bits of the `numPlanes` hyperplane dot
    * products.
    */
  def planeBucket(embedding: Column, numPlanes: Int = NumPlanes): Column =
    (0 until numPlanes).map { p =>
      val d = graft.functions.VectorOps.dot(embedding,
        litVector(IndexedSeq.tabulate(Dim)(i => planeComponent(p, i).toDouble)))
      when(d > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  /** MULTI-PROBE LSH bucket list (round 13; Lv et al. 2007, VLDB
    * "Multi-Probe LSH"): the vector's own bucket plus the buckets
    * reached by flipping its (nprobe − 1) SMALLEST-MARGIN hyperplane
    * signs — the planes the point sits closest to, where a true
    * neighbor most plausibly landed on the other side. Margins reuse
    * the exact-decimal plane dots, so probe selection is deterministic
    * and engine-portable (ties break by plane index). Probing more
    * buckets only ADDS candidates: recall is monotone in nprobe by
    * construction, which AdmissionRecallSpec asserts on the record.
    */
  def planeProbeBuckets(embedding: Column, numPlanes: Int = NumPlanes,
                        nprobe: Int = 1): Column = {
    require(nprobe >= 1 && nprobe <= numPlanes + 1,
      s"nprobe must be in [1, numPlanes + 1], got $nprobe")
    val dots = (0 until numPlanes).map { p =>
      graft.functions.VectorOps.dot(embedding,
        litVector(IndexedSeq.tabulate(Dim)(i => planeComponent(p, i).toDouble)))
    }
    val own = dots.zipWithIndex
      .map { case (d, p) => when(d > 0, lit(1 << p)).otherwise(lit(0)) }
      .reduce(_ + _)
    if (nprobe == 1) array(own)
    else {
      val ranked = sort_array(array(dots.zipWithIndex.map { case (d, p) =>
        struct(abs(d).as("m"), lit(p).as("p"))
      }: _*))
      val flips = (0 until nprobe - 1).map(i =>
        own.bitwiseXOR(call_function("shiftleft", lit(1),
          ranked.getItem(i).getField("p"))))
      array(own +: flips: _*)
    }
  }

  private def withNorm(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).select(
      col("vec_id"), col("embedding"),
      dot("embedding", "embedding").as("norm"))

  private def cosine(aVec: String, aNorm: Column, bVec: String, bNorm: Column): Column =
    dot(aVec, bVec) / (sqrt(aNorm) * sqrt(bNorm))

  private def topkPerQuery(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "vec_id", "rnk", "cosine")
  }

  /** Exact cosine top-10 for query vectors (vec_id < 5) — brute force. */
  def bruteForce(s: SparkSession, dir: String): DataFrame = {
    val emb = withNorm(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("norm").as("qn"))
    val pairs = broadcast(q).join(emb, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
    topkPerQuery(pairs, 10)
  }

  /** Radius threshold for the range-search entry: ~top-1% of pairs at
    * sf0.01 — selective but non-empty at every SF.
    */
  val RangeTau = 0.25

  /** RANGE (radius) search: every corpus vector within cosine ≥ tau of
    * a query — the dedup-threshold / recall-set shape (top-k asks "the
    * nearest k whatever their quality"; range asks "everything this
    * similar", the semantics near-dup admission and filter-by-
    * similarity actually want). Exact brute-force form: broadcast the
    * query set over one embeddings scan, filter — ZERO shuffles, no
    * window, no rank; the scan parallelizes perfectly at any corpus
    * size and the output is bounded by the radius, not by k·|queries|.
    * (The IVF/LSH index legs compose the same way as their top-k
    * siblings — probe cells, then this same filter — when the corpus
    * scan itself is too much; the exact form is the oracle anchor.)
    * The quantized-dot cosine is bit-identical cross-engine, so the
    * tau comparison is deterministic.
    */
  def rangeSearch(s: SparkSession, dir: String,
                  tau: Double = RangeTau): DataFrame = {
    val emb = withNorm(s, dir)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("norm").as("qn"))
    broadcast(q).join(emb, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** The INDEXED range search: probe only the query's LSH bucket, then
    * the same exact tau cut — what [[rangeSearch]]'s Scaladoc promises
    * as the scale path, shipped. The corpus join key is the bucket
    * (equi hash join, never a corpus broadcast-scan per query); recall
    * follows the hyperplane collision bound exactly like the top-k
    * leg, and every emitted pair carries its TRUE quantized cosine, so
    * results are a sound subset of [[rangeSearch]] (spec-proven).
    */
  def rangeSearchLsh(s: SparkSession, dir: String,
                     tau: Double = RangeTau,
                     numPlanes: Int = NumPlanes): DataFrame = {
    val emb = withNorm(s, dir)
      .withColumn("bucket", planeBucket(col("embedding"), numPlanes))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket").as("qb"))
    broadcast(q)
      .join(emb, col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Hyperplane-LSH ANN: probe only the query's bucket, top-k inside.
    * `numPlanes` is the bucket-granularity knob (buckets = 2^planes).
    */
  def lsh(s: SparkSession, dir: String,
          numPlanes: Int = NumPlanes, k: Int = 5): DataFrame =
    topkPerQuery(lshPairs(s, dir, numPlanes), k)

  private def lshPairs(s: SparkSession, dir: String,
                       numPlanes: Int): DataFrame = {
    val emb = withNorm(s, dir)
      .withColumn("bucket", planeBucket(col("embedding"), numPlanes))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("bucket").as("qb"))
    broadcast(q)
      .join(emb, col("bucket") === col("qb") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
  }

  /** Hamming search radius: 28 of 64 bits — calibrated on the corpus
    * (recall@5 = 0.84 vs brute force at sf0.01, the ivfpq_res_trained
    * tier) with survivors ≈ 10 % of the corpus.
    */
  val HammingRadius = 28

  /** Sign bits of one 32-bit HALF of the vector packed into a long.
    * Two halves instead of one 64-bit word keep every packed value
    * below 2³², so no engine ever shifts into a BIGINT sign bit and
    * the oracle's `list_sum` of powers is plainly exact. Built as a
    * FLAT when-sum (the planeBucket shape), not an aggregate() fold:
    * the flat form whole-stage-codegens and evaluates the embedding
    * column once — measurably cheaper on the clustered corpus, where
    * `embedding` is itself a derived formula expression.
    */
  private[graft] def signSketch(embedding: Column, half: Int): Column =
    (0 until 32).map { i =>
      when(embedding.getItem(i + 32 * half) > 0f,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  private def signSketch(half: Int): Column = signSketch(col("embedding"), half)

  /** Binary sign-sketch ANN (the FAISS IndexBinaryFlat shape — sign-bit
    * binarization is the classic 1-bit quantizer): 64 sign bits packed
    * into two 32-bit halves, Hamming distance = popcount of XOR, a
    * radius prefilter, then an exact quantized-cosine rerank of the
    * survivors only.
    *
    * Scale shape: the sketch is 16 bytes against the 256-byte float
    * vector — at 100 TB the radius cut runs over a sketch-only
    * projection (1/16 the scan bandwidth) as a broadcast-query scan
    * FILTER: zero shuffles, no corpus-sized window. Only Hamming
    * survivors (radius-bounded) reach the cosine kernel and the
    * per-query top-k window. Every emitted pair carries its TRUE
    * quantized cosine, so the result is exactly [[bruteForce]]
    * restricted to the Hamming ball (spec-proven sound subset).
    */
  def hammingAnn(s: SparkSession, dir: String,
                 radius: Int = HammingRadius, k: Int = 5): DataFrame = {
    val pairs = hammingPairs(s, dir, radius)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select(col("qid"), col("vec_id"), col("rnk"), col("ham"), col("cosine"))
  }

  private def hammingPairs(s: SparkSession, dir: String,
                           radius: Int): DataFrame = {
    val emb = withNorm(s, dir)
      .withColumn("sk0", signSketch(0))
      .withColumn("sk1", signSketch(1))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("sk0").as("qs0"), col("sk1").as("qs1"))
    broadcast(q).join(emb, col("vec_id") =!= col("qid"))
      .withColumn("ham",
        (expr("bit_count(sk0 ^ qs0)") + expr("bit_count(sk1 ^ qs1)"))
          .cast("long"))
      .filter(col("ham") <= radius)
      .select(col("qid"), col("vec_id"), col("ham"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
  }

  /** Neighbor count of the k-NN graph entry. */
  val KnnGraphK = 3

  /** k-NN GRAPH over the whole corpus — every vector's ranked
    * nearest-neighbor list, the building block SemDeDup-style graph
    * clustering and connectivity analyses consume (dedup_embedding
    * emits the PAIRS above a radius; this emits each vector's top-k
    * regardless of radius). Candidates come from the hyperplane bucket
    * (bucket-local all-pairs: O(N·bucket) total work as a plain equi
    * hash join on the bucket key — never N², and [[suggestedPlanes]]
    * keeps the bucket population bounded as N grows); ranking runs
    * through the TopKPerKey bounded-heap operator, so the shuffle
    * carries ≤ partitions × vectors × k candidates — no per-vector
    * window sort. A vector with no bucket-mates has no row (degree 0).
    */
  /** [[knnGraph]] at the CORPUS-SIZED plane count — the scale form:
    * planes = suggestedPlanes(N) keeps the expected bucket population
    * near the target as N grows, so the bucket-local all-pairs stays
    * O(N · targetBucket) instead of quadratically thickening at a
    * fixed plane count (the dedup_embedding_auto lesson, applied at
    * birth instead of after a soak finds it). One count() — metadata-
    * cheap — picks the planes.
    */
  def knnGraphAuto(s: SparkSession, dir: String,
                   k: Int = KnnGraphK): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    knnGraph(s, dir, k, suggestedPlanes(n))
  }

  def knnGraph(s: SparkSession, dir: String, k: Int = KnnGraphK,
               numPlanes: Int = NumPlanes): DataFrame = {
    val emb = withNorm(s, dir)
      .withColumn("bucket", planeBucket(col("embedding"), numPlanes))
    val a = emb.select(col("vec_id"), col("embedding").as("qe"),
      col("norm").as("qn"), col("bucket"))
    val b = emb.select(col("vec_id").as("nbr_id"), col("embedding").as("ne"),
      col("norm").as("nn"), col("bucket").as("nb"))
    val pairs = a.join(b, col("bucket") === col("nb") &&
        col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        (graft.functions.VectorOps.dot(col("qe"), col("ne"))
          / (sqrt(col("qn")) * sqrt(col("nn")))).as("cosine"))
    graft.plans.TopK.perKey(pairs, Seq(col("vec_id")),
      Seq(col("cosine").desc, col("nbr_id")), k)
  }

  /** Formula centroids (the untrained default). */
  private def formulaCentroids(numCells: Int): IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(numCells)(k =>
      IndexedSeq.tabulate(Dim)(i => centroidComponent(k, i)))

  /** Assign each row to its nearest centroid by exact (quantized) L2;
    * ties → lower cell index. Works for any centroid table.
    */
  private def assignTo(emb: DataFrame,
                       cents: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    val dists = cents.indices.map { k =>
      graft.functions.VectorOps.sqDist(col("embedding"), litVector(cents(k)))
        .as(s"d$k")
    }
    val withD = emb.select(col("vec_id") +: col("embedding") +: col("norm") +: dists: _*)
    // argmin over the K distance columns: least() for the value, then a
    // deterministic first-match CASE for the index (ties → lowest k).
    val minD = least(cents.indices.map(k => col(s"d$k")): _*)
    val cell = cents.indices.foldRight(lit(-1)) { (k, rest) =>
      when(col(s"d$k") === minD, lit(k)).otherwise(rest)
    }
    // foldRight gives CASE k=0 first → lowest k wins ties.
    withD.select(col("vec_id"), col("embedding"), col("norm"), cell.as("cell"))
  }

  /** Memoized cell-assignment frame — the IVF INDEX itself (vec_id →
    * cell, with norms), built once per (session, corpus, cell count)
    * and served to every leg that probes it (ivf, ivfSq8, residual
    * encode, recall records): the write-once serving posture a real
    * IVF deployment has, and measured at sf0.1 it stops the recall
    * records from re-deriving the assignment once per leg.
    */
  private def cells(s: SparkSession, dir: String,
                    numCells: Int = NumCells): DataFrame =
    Memo.over(s, "Similarity.cells", Tables.embeddingsFile(dir), Tables.clustered(dir),
        numCells)(
      assignTo(withNorm(s, dir), formulaCentroids(numCells)).localCheckpoint())

  /** Formula-centroid cell assignment over ANY (vec_id, embedding)
    * frame — the stateless kernel the STREAMING index maintainer
    * (streaming/AnnIngest) shares with the batch IVF path, so a
    * stream-appended posting and the batch build agree row for row.
    */
  private[graft] def assignCells(emb: DataFrame,
                                 numCells: Int = NumCells): DataFrame =
    assignTo(emb.select(col("vec_id"), col("embedding"),
      dot("embedding", "embedding").as("norm")), formulaCentroids(numCells))

  /** (dist, cell) structs to every formula centroid, as ONE array
    * column — the pure-expression form of the assignment, for callers
    * that need the cell (or the nprobe nearest cells) inline in a
    * projection rather than as a frame pass. array_sort's struct order
    * (dist asc, then cell asc) reproduces assignTo's ties→lowest-k
    * exactly.
    */
  private def cellStructsOf(embedding: Column,
                            cents: IndexedSeq[IndexedSeq[Double]]): Column =
    array(cents.indices.map { k =>
      struct(
        graft.functions.VectorOps.sqDist(embedding, litVector(cents(k)))
          .as("dist"),
        lit(k).as("cell"))
    }: _*)

  /** Nearest cell of a vector under an EXPLICIT centroid table
    * (formula or trained), as a column.
    */
  private[graft] def cellColOf(embedding: Column,
                               cents: IndexedSeq[IndexedSeq[Double]]): Column =
    array_sort(cellStructsOf(embedding, cents))
      .getItem(0).getField("cell")

  /** Nearest formula cell of a vector, as a column. */
  private[graft] def cellCol(embedding: Column,
                             numCells: Int = NumCells): Column =
    cellColOf(embedding, formulaCentroids(numCells))

  /** The `nprobe` nearest cells under an explicit centroid table,
    * nearest first — the query-side probe list of an IVF index (recall
    * knob), as a column.
    */
  private[graft] def probeCellsColOf(embedding: Column,
                                     cents: IndexedSeq[IndexedSeq[Double]],
                                     nprobe: Int): Column =
    transform(slice(array_sort(cellStructsOf(embedding, cents)), 1, nprobe),
      _.getField("cell"))

  /** Distributed Lloyd's k-means over the embedding column — the trained
    * coarse quantizer a real IVF index needs (the formula centroids are
    * only the oracle-deterministic stand-in). Deterministic end to end:
    * init = the k lowest-vec_id vectors, assignment ties → lower cell,
    * per-dim means from DECIMAL sums (order-independent), fixed
    * iteration count. Each iteration is one assign (map-only against
    * broadcast centroid literals) + one posexplode/groupBy shuffle of
    * N·dim rows; the driver only ever holds k·dim centroid doubles —
    * the part that must stay small on a 1000-executor cluster.
    */
  def trainCentroids(s: SparkSession, dir: String,
                     k: Int = NumCells, iters: Int = 3): IndexedSeq[IndexedSeq[Double]] = {
    val emb = withNorm(s, dir)
    var cents: IndexedSeq[IndexedSeq[Double]] =
      Tables.embeddings(s, dir).orderBy("vec_id").limit(k).collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding")
          .map(_.toDouble).toIndexedSeq).toIndexedSeq
    require(cents.length == k, s"need >= $k vectors to seed $k cells")
    (1 to iters).foreach { _ =>
      val sums = assignTo(emb, cents)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(sum(col("v").cast("decimal(30,12)")).cast("double").as("s"),
          count(lit(1)).as("n"))
        .collect() // k x dim rows — centroid-table-sized, not data-sized
      val byCell = sums.groupBy(_.getAs[Int]("cell"))
      cents = IndexedSeq.tabulate(k) { c =>
        byCell.get(c) match {
          case Some(rs) =>
            val arr = Array.fill(Dim)(0.0)
            rs.foreach { r =>
              arr(r.getAs[Int]("pos")) = r.getAs[Double]("s") / r.getAs[Long]("n")
            }
            arr.toIndexedSeq
          case None => cents(c) // empty cell keeps its centroid
        }
      }
    }
    cents
  }

  /** A trained store over `dir`'s embeddings, keyed by every training
    * input. The clustered derived corpus reads the same file, so its
    * tag is a key parameter too.
    */
  private def trainedStore(s: SparkSession, tag: String, dir: String,
                           params: Any*)(build: String => Unit): String =
    graft.Artifact(s, tag, Tables.embeddingsFile(dir),
      (Tables.clustered(dir) +: params): _*)(build)

  /** Write-once (cell, centroid) table: the first call runs `train` and
    * persists it as parquet; every later call — a new session or JVM
    * included — reads the store and plans NO training jobs. Parquet
    * stores the doubles bit-exactly, so a read-back index is identical
    * to the freshly trained one. Decoded once per session.
    */
  private def centroidStore(s: SparkSession, dir: String, params: Any*)(
      train: => IndexedSeq[IndexedSeq[Double]]): IndexedSeq[IndexedSeq[Double]] = {
    val path = trainedStore(s, "ivf_centroids", dir, params: _*) { out =>
      centroidFrame(s, train)
        .coalesce(1) // k·dim doubles — one tiny file
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    }
    Memo(s, ("Similarity.centroids", path)) {
      s.read.parquet(path).collect()
        .sortBy(_.getAs[Int]("cell"))
        .map(_.getAs[scala.collection.Seq[Double]]("centroid").toIndexedSeq)
        .toIndexedSeq
    }
  }

  /** Write-once trained index: k-means centroids over the corpus. */
  def trainedCentroids(s: SparkSession, dir: String,
                       k: Int = NumCells, iters: Int = 3): IndexedSeq[IndexedSeq[Double]] =
    centroidStore(s, dir, k, iters)(trainCentroids(s, dir, k, iters))

  /** Trained centroids as a broadcastable (cell, centroid) frame. */
  private[graft] def centroidFrame(s: SparkSession,
                                   cents: IndexedSeq[IndexedSeq[Double]]): DataFrame = {
    import s.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toArray) }
      .toDF("cell", "centroid")
  }

  /** JOIN-based nearest-centroid assignment: emb × broadcast(centroids)
    * → top-1 per vector by (dist, cell) through TopKPerKey. The
    * expression-based [[assignTo]] inlines one distance column per
    * centroid — fine at 16 cells, but a √N cell count (SemDeDup's
    * regime) would blow the projection/codegen up; the join form scales
    * in k: N·k candidate rows, pruned map-side by the per-partition
    * heaps, driver holds nothing. Output keeps `dist` (distance to the
    * OWN cell centroid) for farthest-from-centroid keep rules.
    */
  private[graft] def assignJoin(emb: DataFrame, centsDf: DataFrame): DataFrame =
    graft.plans.TopK.perKey(
      emb.crossJoin(broadcast(centsDf))
        .select(col("vec_id"), col("embedding"), col("norm"), col("cell"),
          graft.functions.VectorOps.sqDist(col("embedding"), col("centroid"))
            .as("dist")),
      Seq(col("vec_id")), Seq(col("dist"), col("cell")), 1).drop("rnk")

  /** Sample-trained k-means centroids (persisted write-once like
    * [[trainedCentroids]], path-keyed by every training input): k-means
    * over the `samplePct`% md5-bucket sample of the corpus — the
    * FAISS/SemDeDup training posture (quantizers train on a sample; the
    * full corpus only pays the one assignment pass). The loop uses the
    * join-based assignment, so k ∝ √N doesn't inflate any projection;
    * per iteration the driver holds k·dim doubles, nothing data-sized.
    */
  def trainedCentroidsSampled(s: SparkSession, dir: String, k: Int,
                              iters: Int = 3,
                              samplePct: Int = 20): IndexedSeq[IndexedSeq[Double]] =
    centroidStore(s, dir, k, iters, s"s$samplePct") {
      val all = withNorm(s, dir)
      val sampled = all.filter(
        (conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 100L) < samplePct)
      // a sample that cannot seed k cells falls back to the corpus
      val emb = (if (sampled.limit(k).count() < k) all else sampled)
        .localCheckpoint() // the sample is re-scanned every iteration
      var cents: IndexedSeq[IndexedSeq[Double]] =
        emb.orderBy("vec_id").limit(k).collect()
          .map(_.getAs[scala.collection.Seq[Float]]("embedding")
            .map(_.toDouble).toIndexedSeq).toIndexedSeq
      require(cents.length == k, s"need >= $k vectors to seed $k cells")
      (1 to iters).foreach { _ =>
        val sums = assignJoin(emb, centroidFrame(s, cents))
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("cell", "pos")
          .agg(sum(col("v").cast("decimal(30,12)")).cast("double").as("s"),
            count(lit(1)).as("n"))
          .collect() // k x dim rows — centroid-table-sized, not data-sized
        val byCell = sums.groupBy(_.getAs[Int]("cell"))
        cents = IndexedSeq.tabulate(k) { c =>
          byCell.get(c) match {
            case Some(rs) =>
              val arr = Array.fill(Dim)(0.0)
              rs.foreach { r =>
                arr(r.getAs[Int]("pos")) = r.getAs[Double]("s") / r.getAs[Long]("n")
              }
              arr.toIndexedSeq
            case None => cents(c) // empty cell keeps its centroid
          }
        }
      }
      cents
    }

  /** Nearest-TRAINED-cell assignment of the full corpus, with dist —
    * the SemDeDup clustering pass.
    */
  private[graft] def trainedCellsWithDist(s: SparkSession, dir: String, k: Int,
                                          iters: Int = 3,
                                          samplePct: Int = 20): DataFrame =
    assignJoin(withNorm(s, dir),
      centroidFrame(s, trainedCentroidsSampled(s, dir, k, iters, samplePct)))

  /** IVF over TRAINED centroids: k-means quantizer (persisted write-once
    * via [[trainedCentroids]]), then the standard probe-own-cell search.
    * Declared rows-only for the driver oracle (k-means is not reasonably
    * SQL-expressible); determinism and recall are ScalaTest-asserted
    * instead.
    */
  def ivfTrained(s: SparkSession, dir: String,
                 numCells: Int = NumCells, iters: Int = 3,
                 k: Int = 5): DataFrame =
    topkPerQuery(ivfTrainedPairs(s, dir, numCells, iters), k)

  private def ivfTrainedPairs(s: SparkSession, dir: String,
                              numCells: Int, iters: Int): DataFrame = {
    val c = assignTo(withNorm(s, dir), trainedCentroids(s, dir, numCells, iters))
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("cell").as("qc"))
    broadcast(q)
      .join(c, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
  }

  /** (vec_id, embedding, norm, cell, dist) — one row per vector per
    * centroid, for rank-based cell selection.
    */
  private[graft] def cellDists(s: SparkSession, dir: String,
                               numCells: Int = NumCells): DataFrame = {
    val emb = withNorm(s, dir)
    val cd = (0 until numCells).map { k =>
      struct(lit(k).as("cell"),
        graft.functions.VectorOps.sqDist(col("embedding"),
          litVector(IndexedSeq.tabulate(Dim)(i => centroidComponent(k, i)))).as("dist"))
    }
    emb.select(col("vec_id"), col("embedding"), col("norm"),
        explode(array(cd: _*)).as("cd"))
      .select(col("vec_id"), col("embedding"), col("norm"),
        col("cd.cell").as("cell"), col("cd.dist").as("dist"))
  }

  /** IVF with nprobe=2: every vector lives in its nearest cell; each
    * query probes its TWO nearest cells (recall knob of real IVF
    * indexes). Cell selection is rank-per-vector — the custom TopKPerKey
    * operator, so assignment is a pruned shuffle, not a window sort.
    */
  def ivfProbe2(s: SparkSession, dir: String,
                numCells: Int = NumCells, nprobe: Int = 2,
                k: Int = 5): DataFrame =
    topkPerQuery(ivfProbePairs(s, dir, numCells, nprobe), k)

  private def ivfProbePairs(s: SparkSession, dir: String,
                            numCells: Int, nprobe: Int): DataFrame = {
    val cd = cellDists(s, dir, numCells)
    val dataCells = graft.plans.TopK
      .perKey(cd, Seq(col("vec_id")), Seq(col("dist"), col("cell")), 1)
      .select("vec_id", "embedding", "norm", "cell")
    val qCells = graft.plans.TopK
      .perKey(cd.filter(col("vec_id") < 5),
        Seq(col("vec_id")), Seq(col("dist"), col("cell")), nprobe)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("cell"))
    broadcast(qCells)
      .join(dataCells, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
  }

  /** IVF ANN: probe the query's own cell, top-k by exact cosine. */
  def ivf(s: SparkSession, dir: String,
          numCells: Int = NumCells, k: Int = 5): DataFrame =
    topkPerQuery(ivfPairs(s, dir, numCells), k)

  private def ivfPairs(s: SparkSession, dir: String,
                       numCells: Int): DataFrame = {
    val c = cells(s, dir, numCells)
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("cell").as("qc"))
    broadcast(q)
      .join(c, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "embedding", col("norm")).as("cosine"))
  }

  // ---- product quantization (PQ) ---------------------------------------

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 codes each. A
    * vector compresses to 8 half-byte codes (4 bytes vs 256 — the
    * memory story that makes exhaustive scans feasible at 100 TB:
    * the codes table is ~64× smaller than the embeddings).
    */
  val PqSub = 8
  val PqSubDim: Int = Dim / PqSub
  val PqCodes = 16

  /** Per-subspace code count for TRAINED books (FAISS nbits knob; 64 =
    * 6-bit — FAISS's own default is 8-bit/256). Deliberately larger
    * than the 4-bit oracle-demo [[PqCodes]]: k-means codebooks trained
    * on clustered data at 16 codes collapse onto the cluster structure
    * (every topic-mate gets the same code → intra-topic ranking is
    * tie-breaking noise — measured recall@5 0.28 vs the formula book's
    * 0.64 on the clustered corpus); more code bits restore intra-topic
    * resolution. Training-only paths have no oracle-size constraint.
    */
  val PqCodesTrained = 64

  /** PQ codebook formula multipliers — named so the DuckDB mirror
    * (Pipelines.pqSubDist) interpolates the SAME constants instead of
    * baking in literals that could drift from [[pqComponent]].
    */
  val PqMulM = 29
  val PqMulK = 53
  val PqMulJ = 17

  /** Deterministic PQ codebook component (subspace m, code kc, dim j
    * within the subspace) in [-1, 1] — the oracle-reproducible stand-in
    * for a trained codebook, same family as [[centroidComponent]].
    */
  def pqComponent(m: Int, kc: Int, j: Int): Double =
    ((m * PqMulM + kc * PqMulK + j * PqMulJ) % 11 - 5) / 5.0

  private def pqCodebook(m: Int, kc: Int): Column =
    litVector(IndexedSeq.tabulate(PqSubDim)(j => pqComponent(m, kc, j)))

  private def subVec(vec: Column, m: Int): Column =
    slice(vec, m * PqSubDim + 1, PqSubDim)

  /** Per-subspace distances of the m-th sub-vector to all 16 codebook
    * entries, as one array column (quantized kernel — both the encoder's
    * argmin and the query's distance table read from this). `vec` is
    * the raw embedding for plain PQ, the residual for IVFPQ-residual;
    * `cb` supplies the codebook entry (formula by default, trained
    * literals for the k-means path).
    */
  private def subDists(m: Int, vec: Column = col("embedding"),
                       cb: (Int, Int) => Column = pqCodebook,
                       codes: Int = PqCodes): Column =
    array((0 until codes).map(kc =>
      graft.functions.VectorOps.sqDist(subVec(vec, m), cb(m, kc))): _*)

  /** PQ-ADC search: every vector is ENCODED once (8 argmin codes —
    * map-only), each query precomputes an 8×16 distance table, and the
    * scan scores candidates from codes alone — 8 table lookups per
    * pair instead of a 64-dim kernel (asymmetric distance computation,
    * Jégou et al. 2011). The approximation: d(q,v) ≈ Σₘ
    * d(q_sub, codebook[code]). Exhaustive over the CODES table, which
    * is the PQ posture at scale: the compressed table scans ~64× faster
    * and never decompresses. Ascending by approximate distance,
    * ties → vec_id.
    */
  /** encode: code_m = argmin over the codebook entries (ties → lower) */
  private def pqCodeCols(vec: Column = col("embedding"),
                         cb: (Int, Int) => Column = pqCodebook,
                         codes: Int = PqCodes): Seq[Column] =
    (0 until PqSub).map { m =>
      val d = subDists(m, vec, cb, codes)
      array_position(d, array_min(d)).cast("int").minus(1).as(s"c$m")
    }

  /** query-side distance tables, one codes-entry array per subspace */
  private def pqTableCols(vec: Column = col("embedding"),
                          cb: (Int, Int) => Column = pqCodebook,
                          codes: Int = PqCodes): Seq[Column] =
    (0 until PqSub).map(m => subDists(m, vec, cb, codes).as(s"dt$m"))

  /** ADC: Σₘ dtable_m[code_m] — 8 lookups per candidate pair */
  private def pqAdc: Column =
    (0 until PqSub)
      .map(m => element_at(col(s"dt$m"), col(s"c$m") + 1))
      .reduce(_ + _)

  private def pqRank(pairs: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("adist").asc, col("vec_id").asc)
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "vec_id", "rnk", "adist")
  }

  def pq(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    pqRank(pqPairs(s, dir), k)

  private def pqPairs(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val codes = emb.select(col("vec_id") +: pqCodeCols(): _*)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +: pqTableCols(): _*)
    broadcast(q).join(codes, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
  }

  /** IVF + PQ — the standard large-scale ANN index shape (FAISS
    * IVFPQ): the coarse quantizer prunes candidates to the query's
    * cell, and the scan inside the cell runs on PQ codes via ADC — so
    * BOTH the candidate count (N/cells) and the per-candidate cost
    * (8 lookups vs a 64-dim kernel) shrink. One projection computes
    * cell + codes together (a single scan of the embeddings); the
    * oracle composes the IVF cell chain with the PQ code chain and
    * must match hash-for-hash.
    */
  def ivfPq(s: SparkSession, dir: String,
            numCells: Int = NumCells, k: Int = 5): DataFrame =
    pqRank(ivfPqPairs(s, dir, numCells), k)

  private def ivfPqPairs(s: SparkSession, dir: String,
                         numCells: Int): DataFrame = {
    val data = assignTo(withNorm(s, dir), formulaCentroids(numCells))
      .select(col("vec_id") +: col("cell") +: pqCodeCols(): _*)
    val q = assignTo(withNorm(s, dir), formulaCentroids(numCells))
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +: col("cell").as("qc") +: pqTableCols(): _*)
    broadcast(q)
      .join(data, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
  }

  /** IVFPQ WITHOUT residual encoding, multi-probe (FAISS IndexIVFPQ
    * with `by_residual=false`): codes quantize the RAW vector — the
    * same distribution the plain-PQ ADC ranks well — and the probe
    * knob buys candidate coverage. This is the tuned recall leg for
    * clustered corpora with UNTRAINED codebooks: residual encoding
    * shifts the code distribution to (x − centroid[cell]), which a
    * formula codebook represents poorly (recall 0.6 vs 0.9 here);
    * training the codebooks on residuals is the proper fix and is
    * exactly what [[trainPqCodebooks]] models. Same scale shape as
    * [[ivfPq]]: candidates = nprobe·N/cells, 8 lookups per pair.
    */
  def ivfPqProbeNoRes(s: SparkSession, dir: String,
                      numCells: Int = NumCells, nprobe: Int = 4,
                      k: Int = 5): DataFrame =
    pqRank(ivfPqProbeNoResPairs(s, dir, numCells, nprobe), k)

  private def ivfPqProbeNoResPairs(s: SparkSession, dir: String,
                                   numCells: Int, nprobe: Int): DataFrame = {
    val cd = cellDists(s, dir, numCells)
    val data = graft.plans.TopK
      .perKey(cd, Seq(col("vec_id")), Seq(col("dist"), col("cell")), 1)
      .select(col("vec_id") +: col("cell") +: pqCodeCols(): _*)
    val q = graft.plans.TopK
      .perKey(cd.filter(col("vec_id") < 5),
        Seq(col("vec_id")), Seq(col("dist"), col("cell")), nprobe)
      .select(col("vec_id").as("qid") +: col("cell").as("qc") +: pqTableCols(): _*)
    broadcast(q)
      .join(data, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
  }

  /** Per-subspace k-means PQ codebooks — the trained counterpart of
    * the formula codebook (the same upgrade [[trainCentroids]] is to
    * the formula IVF centroids). Deterministic end to end: init for
    * subspace m = the sub-vectors of the PqCodes lowest vec_ids,
    * assignment ties → lower code, per-dim means from DECIMAL sums.
    * ALL subspaces train in the SAME jobs: each iteration is one
    * union-of-subspaces assignment + one groupBy((m, code, pos))
    * shuffle of N·dim rows; the driver only ever holds
    * PqSub·PqCodes·PqSubDim doubles.
    */
  def trainPqCodebooks(s: SparkSession, dir: String,
                       iters: Int = 3): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    trainPqCodebooksOn(Tables.embeddings(s, dir), iters, PqCodes)

  /** [[trainPqCodebooks]] over an arbitrary (vec_id, embedding) frame —
    * the embedding column may be float (raw vectors) or double
    * (residuals); the seed cast to array&lt;double&gt; is exact either way.
    * `codes` is the per-subspace codebook size (FAISS's nbits knob:
    * 2^nbits entries) — training-only callers can afford more than the
    * oracle-expressible [[PqCodes]].
    */
  private def trainPqCodebooksOn(vecs: DataFrame, iters: Int,
                                 codes: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val emb = vecs
    val seed = vecs
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .orderBy("vec_id").limit(codes).collect()
      .map(_.getAs[scala.collection.Seq[Double]]("embedding").toIndexedSeq)
    require(seed.length == codes, s"need >= $codes vectors to seed")
    var cbs: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      IndexedSeq.tabulate(PqSub)(m => seed.toIndexedSeq.map(v =>
        (0 until PqSubDim).map(j => v(m * PqSubDim + j))))
    (1 to iters).foreach { _ =>
      val legs = (0 until PqSub).map { m =>
        val cb: (Int, Int) => Column = (mm, kc) => litVector(cbs(mm)(kc))
        val d = subDists(m, col("embedding"), cb, codes)
        emb.select(lit(m).as("m"),
          array_position(d, array_min(d)).cast("int").minus(1).as("code"),
          posexplode(subVec(col("embedding"), m)).as(Seq("pos", "v")))
      }
      val sums = legs.reduce(_ unionAll _)
        .groupBy("m", "code", "pos")
        .agg(sum(col("v").cast("decimal(30,12)")).cast("double").as("s"),
          count(lit(1)).as("n"))
        .collect() // PqSub·codes·PqSubDim rows — codebook-sized
      val byKey = sums.map(r => (r.getAs[Int]("m"), r.getAs[Int]("code"),
        r.getAs[Int]("pos")) -> (r.getAs[Double]("s"), r.getAs[Long]("n"))).toMap
      cbs = IndexedSeq.tabulate(PqSub)(m => IndexedSeq.tabulate(codes)(kc =>
        IndexedSeq.tabulate(PqSubDim) { j =>
          byKey.get((m, kc, j)) match {
            case Some((sv, n)) => sv / n
            case None => cbs(m)(kc)(j) // empty code keeps its entry
          }
        }))
    }
    cbs
  }

  /** Write-once codebook store shared by the raw and residual trained
    * paths: the first call runs `train` and persists (m, code,
    * centroid) as parquet; later calls — new sessions and JVMs included
    * — read the store and plan no training jobs.
    */
  private def pqCodebookStore(s: SparkSession, tag: String, dir: String,
                              codes: Int, params: Any*)(
      train: => IndexedSeq[IndexedSeq[IndexedSeq[Double]]]): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val path = trainedStore(s, tag, dir, (codes +: params): _*) { out =>
      val cbs = train
      import s.implicits._
      (for { m <- cbs.indices; kc <- cbs(m).indices }
        yield (m, kc, cbs(m)(kc).toArray))
        .toDF("m", "code", "centroid")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    }
    Memo(s, ("Similarity.pqCodebooks", path)) {
      val rows = s.read.parquet(path).collect()
        .map(r => (r.getAs[Int]("m"), r.getAs[Int]("code")) ->
          r.getAs[scala.collection.Seq[Double]]("centroid").toIndexedSeq).toMap
      IndexedSeq.tabulate(PqSub)(m => IndexedSeq.tabulate(codes)(kc => rows((m, kc))))
    }
  }

  /** Write-once trained PQ codebooks. */
  def trainedPqCodebooks(s: SparkSession, dir: String,
                         iters: Int = 3): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    pqCodebookStore(s, "pq_codebooks", dir, PqCodes, iters)(
      trainPqCodebooks(s, dir, iters))

  /** PQ codebooks trained on RESIDUALS (x − coarse centroid of x's own
    * cell) — what FAISS's IndexIVFPQ trains by default. Write-once like
    * the raw books; the store is additionally keyed by the coarse cell
    * count (a residual distribution is an artifact of its quantizer)
    * and the code count. The code count matters on clustered data:
    * k-means books at the oracle-demo size ([[PqCodes]] = 16, 4-bit)
    * COLLAPSE onto cluster structure and lose intra-topic resolution —
    * see [[ivfPqResidualTrained]].
    */
  def trainedResidualPqCodebooks(s: SparkSession, dir: String,
                                 numCells: Int = NumCells,
                                 codes: Int = PqCodesTrained,
                                 iters: Int = 3): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    pqCodebookStore(s, "pq_res_codebooks", dir, codes, numCells, iters) {
      val res = withResidualCol(s,
        cells(s, dir, numCells).select("vec_id", "embedding", "cell"), numCells)
        .select(col("vec_id"), col("residual").as("embedding"))
      trainPqCodebooksOn(res, iters, codes)
    }

  /** PQ-ADC search over TRAINED codebooks (rows-only — k-means is not
    * SQL-expressible; the spec asserts determinism, write-once reuse,
    * and that training lowers quantization error vs the formula book).
    */
  def pqTrained(s: SparkSession, dir: String, k: Int = 10,
                iters: Int = 3): DataFrame =
    pqRank(pqTrainedPairs(s, dir, iters), k)

  private def pqTrainedPairs(s: SparkSession, dir: String,
                             iters: Int): DataFrame = {
    val cbs = trainedPqCodebooks(s, dir, iters)
    val cb: (Int, Int) => Column = (m, kc) => litVector(cbs(m)(kc))
    val emb = Tables.embeddings(s, dir)
    val codes = emb.select(col("vec_id") +: pqCodeCols(col("embedding"), cb): _*)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid") +: pqTableCols(col("embedding"), cb): _*)
    broadcast(q).join(codes, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
  }

  /** Join a (…, cell, embedding) frame with the broadcast formula
    * centroid table and add `residual` = embedding − centroid[cell]
    * (exact IEEE subtract per component; float→double widening exact).
    */
  private def withResidualCol(s: SparkSession, df: DataFrame,
                              numCells: Int): DataFrame = {
    import s.implicits._
    val cb = formulaCentroids(numCells).zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
      .toDF("cb_cell", "centroid")
    df.join(broadcast(cb), col("cell") === col("cb_cell"))
      .withColumn("residual",
        expr("zip_with(embedding, centroid, (a, b) -> a - b)"))
      .drop("cb_cell", "centroid")
  }

  /** IVFPQ with RESIDUAL encoding — the full FAISS formulation: codes
    * quantize v − centroid[cell] instead of v, so the codebook only has
    * to cover the within-cell displacement (the whole point of the
    * coarse quantizer: residual magnitudes shrink, code precision
    * concentrates where the data is). The query's distance tables are
    * built from ITS residual in the probed cell, so ADC approximates
    * ‖(q − c) − (v − c)‖ = ‖q − v‖ cell-consistently. The 16×64
    * centroid codebook broadcasts; residuals are one exact IEEE
    * subtract per component (float→double widening is exact), so the
    * DuckDB mirror reproduces the whole chain bit-for-bit.
    */
  def ivfPqResidual(s: SparkSession, dir: String,
                    numCells: Int = NumCells, k: Int = 5): DataFrame =
    pqRank(ivfPqResidualPairs(s, dir, numCells), k)

  private def ivfPqResidualPairs(s: SparkSession, dir: String,
                                 numCells: Int): DataFrame = {
    import s.implicits._
    val cents = formulaCentroids(numCells)
    val cb = cents.zipWithIndex.map { case (c, i) => (i, c.toArray) }
      .toDF("cb_cell", "centroid")
    def withResidual(df: DataFrame): DataFrame =
      df.join(broadcast(cb), col("cell") === col("cb_cell"))
        .withColumn("residual",
          expr("zip_with(embedding, centroid, (a, b) -> a - b)"))
        .drop("cb_cell", "centroid")
    val assigned = assignTo(withNorm(s, dir), cents)
    val data = withResidual(assigned)
      .select(col("vec_id") +: col("cell") +: pqCodeCols(col("residual")): _*)
    val q = withResidual(assigned.filter(col("vec_id") < 5))
      .select(col("vec_id").as("qid") +: col("cell").as("qc") +:
        pqTableCols(col("residual")): _*)
    broadcast(q)
      .join(data, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
  }

  /** Residual IVFPQ with nprobe > 1 — the recall knob: each query
    * probes its `nprobe` nearest cells, and builds a SEPARATE residual
    * distance table per probed cell (ADC stays cell-consistent:
    * (q − c) − (v − c) = q − v for the shared c, so scores from
    * different probed cells approximate the same ‖q − v‖ and rank
    * together). Candidates appear once each (a vector lives in exactly
    * one cell). Cell selection runs through TopKPerKey, like
    * [[ivfProbe2]].
    */
  def ivfPqProbe(s: SparkSession, dir: String,
                 numCells: Int = NumCells, nprobe: Int = 2,
                 k: Int = 5): DataFrame = {
    import s.implicits._
    val cents = formulaCentroids(numCells)
    val cb = cents.zipWithIndex.map { case (c, i) => (i, c.toArray) }
      .toDF("cb_cell", "centroid")
    def withResidual(df: DataFrame): DataFrame =
      df.join(broadcast(cb), col("cell") === col("cb_cell"))
        .withColumn("residual",
          expr("zip_with(embedding, centroid, (a, b) -> a - b)"))
        .drop("cb_cell", "centroid")
    val cd = cellDists(s, dir, numCells)
    val data = withResidual(
      graft.plans.TopK.perKey(cd, Seq(col("vec_id")),
        Seq(col("dist"), col("cell")), 1)
        .select("vec_id", "embedding", "cell"))
      .select(col("vec_id") +: col("cell") +: pqCodeCols(col("residual")): _*)
    val q = withResidual(
      graft.plans.TopK.perKey(cd.filter(col("vec_id") < 5), Seq(col("vec_id")),
        Seq(col("dist"), col("cell")), nprobe)
        .select("vec_id", "embedding", "cell"))
      .select(col("vec_id").as("qid") +: col("cell").as("qc") +:
        pqTableCols(col("residual")): _*)
    val pairs = broadcast(q)
      .join(data, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
    pqRank(pairs, k)
  }

  /** Residual IVFPQ over TRAINED codebooks + multi-probe — the FAISS
    * IndexIVFPQ DEFAULT configuration (by_residual=true, books trained
    * on residuals), with the code count at [[PqCodesTrained]]. The
    * round-8 finding this entry closes has TWO parts: (1) residual
    * encoding with an untrained codebook loses recall (0.64 clustered)
    * because the book never saw the residual distribution; (2) training
    * alone is NOT the fix — at the 4-bit demo size, k-means books
    * collapse onto the cluster structure and recall drops FURTHER
    * (0.28). The code-bit budget is the lever: trained 6-bit books
    * restore intra-topic resolution (the same reason FAISS defaults to
    * 8-bit subquantizers). Rows-only (k-means is not SQL-expressible);
    * the spec asserts the recall recovery and the write-once store.
    * Scale shape unchanged from [[ivfPqProbe]]: candidates =
    * nprobe·N/cells, 8 table lookups per pair, driver holds only the
    * two codebooks.
    */
  def ivfPqResidualTrained(s: SparkSession, dir: String,
                           numCells: Int = NumCells, nprobe: Int = 4,
                           k: Int = 5, codes: Int = PqCodesTrained,
                           iters: Int = 3): DataFrame =
    pqRank(ivfPqResidualTrainedPairs(s, dir, numCells, nprobe, codes, iters), k)

  private def ivfPqResidualTrainedPairs(s: SparkSession, dir: String,
                                        numCells: Int, nprobe: Int,
                                        codes: Int, iters: Int): DataFrame = {
    val cbs = trainedResidualPqCodebooks(s, dir, numCells, codes, iters)
    val cb: (Int, Int) => Column = (m, kc) => litVector(cbs(m)(kc))
    val cd = cellDists(s, dir, numCells)
    val data = withResidualCol(s,
      graft.plans.TopK.perKey(cd, Seq(col("vec_id")),
        Seq(col("dist"), col("cell")), 1)
        .select("vec_id", "embedding", "cell"), numCells)
      .select(col("vec_id") +: col("cell") +:
        pqCodeCols(col("residual"), cb, codes): _*)
    val q = withResidualCol(s,
      graft.plans.TopK.perKey(cd.filter(col("vec_id") < 5), Seq(col("vec_id")),
        Seq(col("dist"), col("cell")), nprobe)
        .select("vec_id", "embedding", "cell"), numCells)
      .select(col("vec_id").as("qid") +: col("cell").as("qc") +:
        pqTableCols(col("residual"), cb, codes): _*)
    broadcast(q)
      .join(data, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), pqAdc.as("adist"))
  }

  /** Measured recall@k of each ANN structure against the exact
    * brute-force top-k — per (method, query): |approx ∩ truth| / k.
    * Recall is DATA (a deterministic function of the index structure
    * and the corpus), so it lives in the oracle-hashed correctness
    * record rather than as a bench side-note; the oracle recomputes
    * both result sets from the same SQL the per-method entries hash.
    * Queries an approx method misses entirely still appear (left join,
    * 0 hits) — silent absence would overstate recall.
    */
  // ---- scalar quantization (SQ8) -----------------------------------------

  /** Code count of the 8-bit scalar quantizer: codes 0..255. */
  val Sq8Levels = 255

  /** SQ8 training pass: per-dimension [min, max] of the corpus — ONE
    * embarrassingly parallel scan into a Dim-keyed partial agg (64
    * groups), then a 64-row collect. min/max are EXACT (no float-sum
    * order dependence), so the trained stats are deterministic under
    * any partitioning — the property that lets the DuckDB oracle
    * reproduce the whole quantizer. Memoized per (session, dir) like
    * the truth store: at 100 TB the stats are the index's metadata
    * (128 doubles), trained once and broadcast.
    */
  private def sq8Stats(s: SparkSession, dir: String): (IndexedSeq[Double], IndexedSeq[Double]) =
    Memo.over(s, "Similarity.sq8Stats", Tables.embeddingsFile(dir), Tables.clustered(dir)) {
      val rows = Tables.embeddings(s, dir)
        .select(posexplode(col("embedding")))
        .toDF("j", "x")
        .groupBy("j")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .collect()
      val mn = Array.fill(Dim)(0.0)
      val mx = Array.fill(Dim)(0.0)
      rows.foreach { r =>
        val j = r.getInt(0); mn(j) = r.getDouble(1); mx(j) = r.getDouble(2)
      }
      (mn.toIndexedSeq, mx.toIndexedSeq)
    }

  /** Dequantized SQ8 vector as a column: per dim, code =
    * clamp(⌊(x−mn)/(mx−mn)·255⌋), recon = mn + (code+0.5)·(mx−mn)/255
    * (the FAISS ScalarQuantizer QT_8bit shape: uniform grid on the
    * trained range, reconstruct at the cell midpoint). The stats are
    * driver constants, so this unrolls to 64 scalar expressions —
    * constant-folded, whole-stage-codegen'd, no higher-order function
    * in the hot path. Every step is a correctly-rounded double op in a
    * fixed order, so the oracle mirrors it bit for bit; the clamp is a
    * no-op on the training corpus (monotonicity of rounded ops keeps
    * the ratio in [0,1]) but guards out-of-distribution encode at
    * serve time.
    */
  private def sq8ReconCol(vec: Column,
                          mn: IndexedSeq[Double],
                          mx: IndexedSeq[Double]): Column =
    array((0 until Dim).map { j =>
      val lo = mn(j); val hi = mx(j)
      if (hi == lo) lit(lo)
      else {
        val x = element_at(vec, j + 1).cast("double")
        val code = least(lit(255.0), greatest(lit(0.0),
          floor((x - lit(lo)) / lit(hi - lo) * lit(255.0))))
        lit(lo) + (code + lit(0.5)) * lit((hi - lo) / 255.0)
      }
    }: _*)

  /** SQ8 ANN: asymmetric search — queries stay EXACT, the corpus side
    * is scored through its dequantized code (what a scan over a stored
    * SQ8 index computes: 64 bytes/vector, 16× smaller than float32, so
    * a 100 TB float corpus scans as 6.25 TB of codes with the 64-double
    * stats broadcast). Same broadcast-queries/one-scan/zero-shuffle
    * shape as [[bruteForce]]; ranking error vs exact is bounded by the
    * per-dim half-step (spec-asserted). Reference behavior:
    * faiss ScalarQuantizer (QT_8bit) — public API semantics only.
    */
  /** Test hook: (vec_id, embedding, recon) — the dequantized corpus. */
  private[graft] def sq8Recon(s: SparkSession, dir: String): DataFrame = {
    val (mn, mx) = sq8Stats(s, dir)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        sq8ReconCol(col("embedding"), mn, mx).as("recon"))
  }

  def sq8(s: SparkSession, dir: String, k: Int = 10): DataFrame =
    topkPerQuery(sq8Pairs(s, dir), k)

  private def sq8Pairs(s: SparkSession, dir: String): DataFrame = {
    val (mn, mx) = sq8Stats(s, dir)
    val emb = Tables.embeddings(s, dir)
      .withColumn("recon", sq8ReconCol(col("embedding"), mn, mx))
      .select(col("vec_id"), col("recon"),
        dot("recon", "recon").as("rnorm"))
    val q = withNorm(s, dir).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"))
    broadcast(q).join(emb, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "recon", col("rnorm")).as("cosine"))
  }

  /** IVF + SQ8 composed (the FAISS IndexIVFScalarQuantizer shape — the
    * coarse quantizer prunes candidates to one cell, the stored codes
    * are 8-bit scalar-quantized): queries stay EXACT and probe their
    * own cell; candidates are scored through midpoint dequantization.
    * At scale this is the workhorse index layout: postings partitioned
    * by cell (candidates = N/cells per probe) AND each candidate is 64
    * bytes instead of 256 — the two compression families multiply.
    * Plan: one cell-assignment pass (TopKPerKey pruned — shared with
    * ivf), recon unrolls to 64 constant-folded scalar expressions, one
    * broadcast-queries equi join on the cell key. Same deterministic
    * cross-engine arithmetic as the two parents, so the composition is
    * oracle-hashable.
    */
  def ivfSq8(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    topkPerQuery(ivfSq8Pairs(s, dir), k)

  private def ivfSq8Pairs(s: SparkSession, dir: String): DataFrame = {
    val (mn, mx) = sq8Stats(s, dir)
    val c = cells(s, dir)
    val data = c
      .withColumn("recon", sq8ReconCol(col("embedding"), mn, mx))
      .select(col("vec_id"), col("cell"), col("recon"),
        dot("recon", "recon").as("rnorm"))
    val q = c.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("norm").as("qn"), col("cell").as("qc"))
    broadcast(q)
      .join(data, col("cell") === col("qc") && col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        cosine("qe", col("qn"), "recon", col("rnorm")).as("cosine"))
  }

  def recallAtK(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    recallOf(s, dir, k, Seq(
      // (name, ranks-by-cosine-desc?, candidate pairs). The pq/sq8
      // legs' standalone form tops at k=10 then the record filtered to
      // rnk <= 5 — top-5 of a deterministic top-10 IS the top-5, so
      // ranking their pairs at the record's k is row-identical.
      ("ann_lsh", true, () => lshPairs(s, dir, NumPlanes)),
      ("ann_hamming", true, () => hammingPairs(s, dir, HammingRadius)),
      ("ann_ivf", true, () => ivfPairs(s, dir, NumCells)),
      ("ann_ivf_nprobe2", true, () => ivfProbePairs(s, dir, NumCells, 2)),
      ("ann_ivf_nprobe4", true, () => ivfProbePairs(s, dir, NumCells, 4)),
      ("ann_pq", false, () => pqPairs(s, dir)),
      ("ann_sq8", true, () => sq8Pairs(s, dir)),
      ("ann_ivf_sq8", true, () => ivfSq8Pairs(s, dir)),
      ("ann_ivfpq", false, () => ivfPqPairs(s, dir, NumCells)),
      ("ann_ivfpq_res", false, () => ivfPqResidualPairs(s, dir, NumCells)),
      ("ann_ivfpq_nores4", false, () => ivfPqProbeNoResPairs(s, dir, NumCells, 4))))

  /** Recall@k of the TRAINED index family (k-means coarse quantizer,
    * k-means PQ books, trained-residual IVFPQ) — rows-only (training is
    * not SQL-expressible), with the clustered-corpus targets asserted
    * in the spec. This is the record that shows training closing the
    * recall gap the formula-codebook entries document.
    */
  def recallTrained(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    recallOf(s, dir, k, Seq(
      ("ann_ivf_trained", true, () => ivfTrainedPairs(s, dir, NumCells, 3)),
      ("ann_pq_trained", false, () => pqTrainedPairs(s, dir, 3)),
      ("ann_ivfpq_res_trained", false,
        () => ivfPqResidualTrainedPairs(s, dir, NumCells, 4, PqCodesTrained, 3))))

  /** Recall records over `legs`, scored against the exact ground
    * truth. The truth is memoized per (session, corpus dir, k) — the
    * brute-force top-k is a deterministic artifact of the corpus,
    * shared by every recall entry over it (the collapsed-contents /
    * trained-centroid store pattern). The standalone ann_bruteforce
    * entry does NOT use it: that entry measures the exact scan itself.
    */
  private def recallOf(s: SparkSession, dir: String, k: Int,
                       legs: Seq[(String, Boolean, () => DataFrame)]): DataFrame = {
    val truth = Memo.over(s, "Similarity.recallTruth", Tables.embeddingsFile(dir),
        Tables.clustered(dir), k)(
      bruteForce(s, dir).filter(col("rnk") <= k)
        .select("qid", "vec_id").localCheckpoint())
    val tr = truth.groupBy("qid").agg(count(lit(1)).as("n_truth"))
    // the legs' expression trees are large (codebook literals, the
    // 64-term recon projection, 16x64 centroid structs) and each
    // Dataset call re-runs the analyzer on the growing plan — build
    // them on concurrent driver threads (optimization r18, guide §2.6:
    // the sequential construction alone measured ~3 s of the record)
    val built = legs.zip(Par.all(s)(legs.map(_._3)))
      .map { case ((n, cos, _), df) => (n, cos, df) }
    // The legs' top-k ranking fuses into TWO shared windows over
    // (method, qid) — one per ordering kind (cosine desc, approx-dist
    // asc) — instead of one window exchange per leg, and ONE tagged
    // semi-join + (method, qid) aggregate replaces the per-leg
    // semi-join + groupBy + join-back tail (optimization r18, guide
    // §2.4: the record ran 59 tiny scheduler-bound stage jobs; the
    // ordering expressions are the legs' own, so every method's top-k
    // set — and the record's rows — are bit-identical).
    def ranked(cos: Boolean): Option[DataFrame] = {
      val subset = built.filter(_._2 == cos)
      if (subset.isEmpty) return None
      val tagged = subset.map { case (n, _, df) =>
        df.select(lit(n).as("method"), col("qid"), col("vec_id"),
            (if (cos) col("cosine") else col("adist")).as("score")) }
        .reduce(_ unionAll _)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("method", "qid")
        .orderBy(if (cos) col("score").desc else col("score").asc,
          col("vec_id"))
      Some(tagged.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k).select("method", "qid", "vec_id"))
    }
    val top = (ranked(cos = true) ++ ranked(cos = false)).reduce(_ unionAll _)
    // top-k rows are unique on (method, qid, vec_id), so the semi-join
    // from the union side counts exactly the truth matches the old
    // truth-side semi counted
    val hits = top.join(truth, Seq("qid", "vec_id"), "left_semi")
      .groupBy("method", "qid").agg(count(lit(1)).as("n_hits"))
    // every method x every truth qid, zero-filled — the row set the
    // per-leg left joins produced
    val grid = tr.withColumn("method",
      explode(array(legs.map(l => lit(l._1)): _*)))
    grid.join(hits, Seq("method", "qid"), "left")
      .select(col("method"), col("qid"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth").cast("double"))
  }
}
