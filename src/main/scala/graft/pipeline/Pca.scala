package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Distributed PCA over the embedding corpus — the dimensionality-
  * reduction preprocessing real ANN deployments run before product
  * quantization (FAISS's PCAMatrix / OPQ pre-rotation: PQ subspaces
  * assume isotropic residual energy; PCA-rotated vectors concentrate
  * variance so the same code budget buys more recall).
  *
  * Split exactly like k-means ([[Similarity.trainCentroids]]): the
  * DATA-sized work — the Gram/covariance accumulation — is ONE
  * embarrassingly parallel pass whose shuffle is d(d+1)/2 keys
  * (constant, 2080 at d=64) after map-side partial aggregation; the
  * MODEL-sized work — eigendecomposition of the d×d matrix — runs on
  * the driver (fixed-sweep cyclic Jacobi over 64×64 doubles,
  * milliseconds; the driver never holds anything data-sized). A
  * 1000-executor corpus changes only the scan time.
  *
  * Determinism contract: per-element products are floor-quantized to
  * the 2⁻²⁴ grid BEFORE summation ([[graft.functions.VectorKernels]]'s
  * argument: exact float→double widening, one correctly-rounded
  * multiply, exponent-shift scaling, exact floor, associative integer
  * sum) — so [[covariance]] is bit-identical cross-engine and
  * oracle-hashable. The eigensolver is fixed-iteration driver
  * arithmetic on those exact inputs (no SQL mirror exists — the
  * emb_pca/emb_pca_project entries are declared rows-only with the
  * spec as their gate, like the trained-index family), with the sign
  * convention "largest-|loading| component positive, ties to the
  * lowest index" pinning the eigenvector orientation.
  */
object Pca {

  val Dim: Int = Similarity.Dim
  private val Scale: Double = graft.functions.VectorKernels.Scale

  /** Principal components kept by the projection entry. */
  val PcaK = 8

  /** Cyclic-Jacobi sweeps for the d×d driver eigensolve — fixed count
    * keeps the run deterministic (no data-dependent stopping); Jacobi
    * converges quadratically, so 30 sweeps is far past machine
    * precision at d=64, INCLUDING near-degenerate eigenvalue pairs
    * (which defeat power iteration: its per-iteration contraction is
    * λ₂/λ₁, useless when the spectrum is nearly flat — observed on
    * this corpus as out-of-order eigenvalues 0.02459 vs 0.02460).
    */
  val JacobiSweeps = 30

  /** emb_cov: exact corpus covariance, long form (j, k, cov) for
    * j ≤ k. cov = E[x_j·x_k] − E[x_j]·E[x_k] where every expectation
    * is a quantized-integer sum divided out in a fixed double-op
    * order (mirrored verbatim by the DuckDB oracle).
    */
  def covariance(s: SparkSession, dir: String): DataFrame = {
    // spread the scan (optimization r18, guide §2.5): the 2080-pair
    // explode per row otherwise runs on the single-row-group scan's one
    // task; gated no-op at production partition counts
    val emb = Tables.embeddingsSpread(s, dir)
    val n = emb.agg(count(lit(1)).as("n"))
    val pairsExpr = expr(
      s"""flatten(transform(sequence(0, ${Dim - 1}), j ->
         |  transform(sequence(j, ${Dim - 1}), k ->
         |    struct(j AS j, k AS k,
         |      CAST(floor(CAST(embedding[j] AS DOUBLE)
         |           * CAST(embedding[k] AS DOUBLE) * ${Scale}D) AS LONG) AS q))))"""
        .stripMargin)
    val sums = emb.select(explode(pairsExpr).as("p"))
      .groupBy(col("p.j").as("j"), col("p.k").as("k"))
      .agg(sum(col("p.q")).as("sq"))
    val meansExpr = expr(
      s"""transform(sequence(0, ${Dim - 1}), j ->
         |  struct(j AS j,
         |    CAST(floor(CAST(embedding[j] AS DOUBLE) * ${Scale}D) AS LONG) AS q))"""
        .stripMargin)
    val means = emb.select(explode(meansExpr).as("m"))
      .groupBy(col("m.j").as("j")).agg(sum(col("m.q")).as("sm"))
    val mj = means.select(col("j"), col("sm").as("smj"))
    val mk = means.select(col("j").as("k"), col("sm").as("smk"))
    sums.join(broadcast(mj), Seq("j")).join(broadcast(mk), Seq("k"))
      .crossJoin(broadcast(n))
      .select(col("j"), col("k"),
        round(col("sq") / lit(Scale) / col("n").cast("double")
          - (col("smj") / lit(Scale) / col("n").cast("double"))
          * (col("smk") / lit(Scale) / col("n").cast("double")), 12).as("cov"))
  }

  /** The trained model: (eigenvalue, loadings) per component, leading
    * first — memoized per (session, corpus) like every trained artifact.
    */
  def trainComponents(s: SparkSession, dir: String,
                      k: Int = PcaK): IndexedSeq[(Double, IndexedSeq[Double])] =
    Memo.over(s, "Pca.trainComponents", Tables.embeddingsFile(dir), Tables.clustered(dir), k) {
      // collect the 2080-row long form into the dense symmetric matrix
      val c = Array.ofDim[Double](Dim, Dim)
      covariance(s, dir).collect().foreach { r =>
        val (j, kk, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
        c(j)(kk) = v; c(kk)(j) = v
      }
      // cyclic Jacobi: rotate away each off-diagonal (p,q) in a fixed
      // order for a fixed number of sweeps — fully deterministic
      val vm = Array.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)
      (0 until JacobiSweeps).foreach { _ =>
        (0 until Dim - 1).foreach { p =>
          (p + 1 until Dim).foreach { q =>
            val apq = c(p)(q)
            if (math.abs(apq) > 1e-300) {
              val theta = (c(q)(q) - c(p)(p)) / (2.0 * apq)
              val t =
                if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                else -1.0 / (-theta + math.sqrt(theta * theta + 1.0))
              val co = 1.0 / math.sqrt(t * t + 1.0)
              val si = t * co
              (0 until Dim).foreach { i =>
                val aip = c(i)(p); val aiq = c(i)(q)
                c(i)(p) = co * aip - si * aiq
                c(i)(q) = si * aip + co * aiq
              }
              (0 until Dim).foreach { j =>
                val apj = c(p)(j); val aqj = c(q)(j)
                c(p)(j) = co * apj - si * aqj
                c(q)(j) = si * apj + co * aqj
              }
              (0 until Dim).foreach { i =>
                val vip = vm(i)(p); val viq = vm(i)(q)
                vm(i)(p) = co * vip - si * viq
                vm(i)(q) = si * vip + co * viq
              }
            }
          }
        }
      }
      val ordered = (0 until Dim)
        .map(idx => (c(idx)(idx), idx))
        .sortBy { case (l, idx) => (-l, idx) }
        .take(k)
      ordered.map { case (lambda, idx) =>
        var v = Array.tabulate(Dim)(i => vm(i)(idx))
        // orientation: largest-|loading| positive, ties lowest index
        val piv = (0 until Dim).maxBy(i => (math.abs(v(i)), -i))
        if (v(piv) < 0) v = v.map(-_)
        (lambda, v.toIndexedSeq)
      }.toIndexedSeq
    }

  /** emb_pca: the model as rows (comp, j, loading, eigenvalue) —
    * driver-sized (k·d rows), rows-only (eigensolving has no SQL
    * mirror; PcaSpec is the gate).
    */
  def pca(s: SparkSession, dir: String, k: Int = PcaK): DataFrame = {
    import s.implicits._
    trainComponents(s, dir, k).zipWithIndex.flatMap {
      case ((lambda, v), c) =>
        v.zipWithIndex.map { case (x, j) => (c.toLong, j.toLong, x, lambda) }
    }.toDF("comp", "j", "loading", "eigenvalue")
  }

  /** emb_pca_project: every embedding's coordinates in the top-k
    * principal directions (centered), via the shared quantized-dot
    * kernel against broadcast loading literals — one map-only pass,
    * N·k output rows, no shuffle. The reduced representation PQ would
    * consume.
    */
  def project(s: SparkSession, dir: String, k: Int = PcaK): DataFrame = {
    val comps = trainComponents(s, dir, k)
    val emb = Tables.embeddings(s, dir)
    // centering via the same quantized means the covariance used
    val n = emb.count().toDouble
    val meansExpr = expr(
      s"""transform(sequence(0, ${Dim - 1}), j ->
         |  CAST(floor(CAST(embedding[j] AS DOUBLE) * ${Scale}D) AS LONG))"""
        .stripMargin)
    val muVec: IndexedSeq[Double] = {
      val rows = emb.select(posexplode(meansExpr).as(Seq("j", "q")))
        .groupBy("j").agg(sum("q").as("s")).collect()
      val arr = Array.ofDim[Double](Dim)
      rows.foreach(r => arr(r.getInt(0)) = r.getLong(1) / Scale / n)
      arr.toIndexedSeq
    }
    val cols: Seq[Column] = comps.zipWithIndex.map { case ((_, v), c) =>
      val lits = array(v.map(lit): _*)
      val centerDot = v.zip(muVec).map { case (a, b) => a * b }.sum
      round(graft.functions.VectorOps.dot(col("embedding"), lits)
        - lit(BigDecimal(centerDot).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble),
        9).as(s"c$c")
    }
    val wide = emb.select(col("vec_id") +: cols: _*)
    // long form for a stable hashable schema
    val stacked = comps.indices.map(c =>
      wide.select(col("vec_id"), lit(c.toLong).as("comp"), col(s"c$c").as("coord")))
    stacked.reduce(_ unionAll _)
  }
}
