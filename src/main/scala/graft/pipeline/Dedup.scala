package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Par, Tables}

/** Deduplication operators for the documents table — the training-data
  * pipeline side of the engine.
  *
  * Everything here is built from codegen'd builtins (split/transform/
  * explode/md5) — no UDFs — so whole-stage codegen covers the hot path
  * and the same logic is expressible in the DuckDB oracle.
  *
  * Cross-engine hashing: md5 (lowercase hex in both engines) is the shared
  * deterministic hash; MinHash "permutation" i is the i-th 4-hex slice of
  * md5(shingle), and min() over hex strings is a lexicographic min in both.
  *
  * Scale: exact dedup and MinHash are groupBy/self-join on hash keys —
  * uniform by construction, no skew. LSH turns the O(N²) near-dup problem
  * into per-band hash-join buckets; the band self-join shuffles on
  * (band, bandval) whose cardinality ~ N·bands/dups.
  */
object Dedup {

  /** Word 3-gram shingle array over a MATERIALIZED word-array column.
    * The word array must be its own column: referencing
    * `filter(split(text))` inside the transform lambda would re-evaluate
    * the split per element — O(words²) per document, and measured as the
    * dominant cost of every shingle-based operator at sf0.1.
    */
  private[graft] def shinglesOf(wordsCol: String): Column =
    expr(
      s"""CASE WHEN size($wordsCol) >= 3
         |THEN transform(sequence(0, size($wordsCol) - 3),
         |  i -> concat_ws(' ', $wordsCol[i], $wordsCol[i+1], $wordsCol[i+2]))
         |ELSE array() END""".stripMargin)

  /** Exact dedup by content hash: one row per distinct text. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))

  /** One row per DISTINCT text: (cid, text, n_docs) where cid is the
    * group's min doc_id — a stable representative id. The whole shingle
    * pipeline runs at this level (exact-dedup collapse FIRST, the order
    * every real near-dup pipeline uses): on duplicate-heavy corpora the
    * doc-level pair set is quadratic in copy multiplicity, while the
    * content-level sets are bounded by distinct texts. The 100x soak
    * measured the difference: the doc-level Jaccard verify ground
    * through 32.5M candidate pairs (486s) of which only ~3k were
    * distinct content pairs.
    */
  private def contents(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text")).as("chash"))
      .agg(min("doc_id").as("cid"), count(lit(1)).as("n_docs"),
        min("text").as("text"))

  /** [[contents]], MATERIALIZED once per (session, dir)
    * (localCheckpoint + memo): the collapsed table feeds shingles,
    * bands, the diagonal, and both expansion legs of FOUR operators
    * (minhash_lsh, ngram_jaccard, near_contents, clusters) — without
    * materialization every branch replans the scan + md5 groupBy
    * (measured: 12 parquet scans in one minhashLsh plan), and without
    * the memo every OPERATOR re-runs the groupBy (measured: the
    * 1.3-1.6x base-scale bench flags vs baseline). A real pipeline
    * writes its exact-dedup table once and reads it everywhere; this is
    * the in-JVM equivalent.
    */
  private[pipeline] def collapsed(s: SparkSession, dir: String): DataFrame =
    Memo.over(s, "Dedup.collapsed", s"$dir/documents.parquet")(
      contents(s, dir).localCheckpoint())
  // NOT spread at the store (measured, optimization r18): repartitioning
  // the checkpointed store to defaultParallelism made the heavy gram
  // chains parallel but taxed the store's many SMALL consumers
  // (minhash/near_contents/tfidf stages inflate from 1-2 tasks to 32) —
  // net worse. Per-row-heavy consumers spread their own slice instead
  // (winnowPairs).

  /** (cid, doc_id) membership — the expansion map back to documents. */
  private def contentDocs(s: SparkSession, dir: String, c: DataFrame): DataFrame =
    Tables.documents(s, dir)
      .select(md5(col("text")).as("chash"), col("doc_id"))
      .join(c.select("chash", "cid"), "chash")
      .select("cid", "doc_id")

  /** Distinct (cid, shingle) pairs over distinct contents. */
  private def contentShingles(c: DataFrame): DataFrame =
    c.select(col("cid"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("cid"), explode(shinglesOf("ws")).as("sh"))
      .distinct()

  /** Expand content-level pair results back to doc pairs: cross pairs
    * (c1 ≠ c2) become docs(c1) × docs(c2); `diagonal` contents (the
    * within-group case) become their own n·(n−1)/2 pairs. `payload`
    * columns ride along. Output is exactly the doc-level formulation's
    * pair set — the expansion neither loses nor invents pairs (spec:
    * block-LSH equals brute force; hash-level accounting).
    */
  private def expandPairs(cross: DataFrame, diagonal: DataFrame,
                          docs: DataFrame, payload: Seq[String]): DataFrame = {
    val da = docs.select(col("cid").as("c1"), col("doc_id").as("d1"))
    val db = docs.select(col("cid").as("c2"), col("doc_id").as("d2"))
    val crossDocs = cross.join(da, "c1").join(db, "c2")
      .select(least(col("d1"), col("d2")).as("id1") +:
        greatest(col("d1"), col("d2")).as("id2") +: payload.map(col): _*)
    val diagDocs = diagonal
      .join(da.withColumnRenamed("c1", "cid"), "cid")
      .join(db.withColumnRenamed("c2", "cid"), "cid")
      .filter(col("d1") < col("d2"))
      .select(col("d1").as("id1") +: col("d2").as("id2") +: payload.map(col): _*)
    crossDocs.unionAll(diagDocs)
  }

  /** MinHash signatures: ONE md5 per shingle, sliced into 8 × 4-hex
    * fragments — each slice behaves as an independent 16-bit hash
    * function, and min over the lexicographic hex slices is a valid
    * min-hash per slice. 8× less hashing than md5-per-permutation on
    * the hottest column of the pipeline; same cross-engine determinism
    * (md5 lowercase hex + substring agree in Spark and DuckDB).
    */
  private def minhashes(c: DataFrame, numHashes: Int = 8): DataFrame = {
    require(numHashes >= 1 && numHashes <= 8,
      "one md5 yields 8 x 4-hex slices; salt extra md5s to go beyond 8")
    val aggs = (0 until numHashes).map(i =>
      min(substring(col("h"), 4 * i + 1, 4)).as(s"m$i"))
    contentShingles(c)
      .withColumn("h", md5(col("sh")))
      .groupBy("cid").agg(aggs.head, aggs.tail: _*)
  }

  /** (cid, band, bandval): `numBands` LSH bands of `rowsPerBand`
    * minhashes each, over DISTINCT contents. The (bands, rows) pair is
    * THE recall/precision scale knob: candidate probability at Jaccard
    * j is 1 - (1 - j^rows)^bands, and shuffle volume grows with bands.
    */
  private def bands(c: DataFrame,
                    numBands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val bandCols = (0 until numBands).map(b =>
      concat((0 until rowsPerBand).map(r => col(s"m${rowsPerBand * b + r}")): _*))
    minhashes(c, numBands * rowsPerBand).select(
      col("cid"), posexplode(array(bandCols: _*)).as(Seq("band", "bandval")))
  }

  /** Content pairs sharing any band (c1 < c2), and the banded-content
    * id set (contents that produced at least one band — empty-shingle
    * contents never do, so they never pair, matching the doc-level
    * formulation). Memoized per (session, dir, knobs) and
    * checkpointed: the band self-join output is bounded by distinct
    * content pairs, and both minhash_lsh and the verify family consume
    * it — one band join per session instead of four.
    */
  private def contentCandidates(s: SparkSession, dir: String, c: DataFrame,
                                numBands: Int, rowsPerBand: Int): (DataFrame, DataFrame) =
    Memo.over(s, "Dedup.candidates", s"$dir/documents.parquet", numBands, rowsPerBand) {
      val ex = bands(c, numBands, rowsPerBand)
      val pairs = ex.as("l").join(ex.as("r"),
          col("l.band") === col("r.band") &&
            col("l.bandval") === col("r.bandval") &&
            col("l.cid") < col("r.cid"))
        .select(col("l.cid").as("c1"), col("r.cid").as("c2"))
        .distinct()
      (pairs.localCheckpoint(),
        ex.select("cid").distinct().localCheckpoint())
    }

  /** LSH candidate pairs: docs sharing any band. Collapse-first: the
    * band self-join runs over distinct contents; identical docs (which
    * share every band by construction) come from the diagonal
    * expansion, never from the join.
    */
  def minhashLsh(s: SparkSession, dir: String,
                 numBands: Int = 4, rowsPerBand: Int = 2): DataFrame = {
    val c = collapsed(s, dir)
    val (pairs, banded) = contentCandidates(s, dir, c, numBands, rowsPerBand)
    val diagonal = c.filter(col("n_docs") >= 2)
      .join(banded, "cid").select("cid")
    expandPairs(pairs, diagonal, contentDocs(s, dir, c), Seq.empty)
  }

  /** Word-3-gram Jaccard over the LSH candidates (verify step of the
    * near-dup pipeline): |A∩B| / |A∪B| ≥ 0.5. The verify join runs at
    * content level — identical docs have identical shingle sets, so
    * their pairwise Jaccard is exactly 1.0 (diagonal) and each distinct
    * content pair is verified ONCE regardless of copy counts.
    */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val c = collapsed(s, dir)
    val (crossC, diagC) = verifiedContentPairs(s, dir, c)
    expandPairs(crossC, diagC, contentDocs(s, dir, c), Seq("jaccard"))
  }

  /** Containment candidate posting-list cap: shingles present in more
    * than this many DISTINCT contents are dropped before the pair join
    * (the contamination_capped hot-key law — an ubiquitous shingle
    * contributes C(P,2) pairs and carries almost no containment
    * signal; the oracle re-derives the dropped set, so the hash
    * proves the cap's semantics, not just its speed).
    */
  val ContainCap = 10L

  /** Containment admission threshold (calibrated on the corpus: 29
    * pairs at sf0.01 including one full 1.0-containment embedding).
    */
  val ContainTau = 0.2

  /** ASYMMETRIC containment near-dup (Broder's containment, as
    * opposed to resemblance): `inter / min(|S(A)|, |S(B)|)` over
    * distinct 3-gram shingles. This is the duplication class
    * resemblance-based dedup structurally MISSES: a document embedded
    * inside a much larger one has jaccard ≈ |A|/|B| (tiny — MinHash
    * banding, a jaccard estimator, will not band them together) but
    * containment 1.0. Candidates therefore come from the CAPPED
    * shingle posting lists (any shared surviving shingle), not from
    * MinHash bands.
    *
    * Scale shape: COLLAPSE-FIRST (everything runs on distinct
    * contents); posting lists capped at [[ContainCap]] bound the
    * per-shingle pair fan-out to C(cap, 2); output is content-level
    * pairs above tau (bounded by verified pairs, never corpus²).
    */
  def containment(s: SparkSession, dir: String, cap: Long = ContainCap,
                  tau: Double = ContainTau): DataFrame = {
    // the shingle set feeds FOUR consumers (per-content size, posting
    // cap, both self-join sides) and the explode chain off the one-
    // partition collapsed store ran single-task per consumer —
    // materialize the narrow (cid, sh) frame once over the spread
    // store (optimization r18, guide §2.4/§2.5; the spread is a no-op
    // at production partition counts)
    val c = graft.Tables.spreadSmallScan(s, collapsed(s, dir), "cid")
    val sh = contentShingles(c).localCheckpoint()
    val n = sh.groupBy("cid").agg(count(lit(1)).as("n"))
    // (cid, sh) is distinct, so the per-shingle row count IS its
    // distinct-content posting size — one window over the pass instead
    // of a groupBy + join-back re-evaluation
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("sh")
    val kept = sh.withColumn("__p", count(lit(1)).over(wp))
      .filter(col("__p") <= cap).drop("__p")
    val pairs = kept.as("a")
      .join(kept.as("b"),
        col("a.sh") === col("b.sh") && col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("cid1"), col("b.cid").as("cid2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(n.as("na"), col("cid1") === col("na.cid"))
      .join(n.as("nb"), col("cid2") === col("nb.cid"))
      .select(col("cid1"), col("cid2"), col("inter"),
        col("na.n").as("n_sh1"), col("nb.n").as("n_sh2"),
        (col("inter").cast("double")
          / least(col("na.n"), col("nb.n")).cast("double"))
          .as("containment"))
      .filter(col("containment") >= tau)
  }

  /** The near-dup pipeline's deliverable at scale: verified pairs of
    * DISTINCT contents with copy counts —
    * (cid1, cid2, jaccard, n_docs1, n_docs2), cid1 < cid2 cross pairs
    * plus the cid1 = cid2 diagonal for duplicate groups (jaccard 1.0).
    * Row count is bounded by distinct texts, not copies; downstream
    * keep/drop policies weight by n_docs instead of enumerating the
    * (quadratic) doc pairs. The doc-level [[ngramJaccard]] is this
    * result passed through [[expandPairs]].
    */
  def nearDupContents(s: SparkSession, dir: String): DataFrame = {
    val c = collapsed(s, dir)
    val (crossC, diagC) = verifiedContentPairs(s, dir, c)
    val nd = c.select(col("cid"), col("n_docs"))
    val cross = crossC
      .join(nd.as("na"), col("c1") === col("na.cid"))
      .join(nd.as("nb"), col("c2") === col("nb.cid"))
      .select(col("c1").as("cid1"), col("c2").as("cid2"), col("jaccard"),
        col("na.n_docs").as("n_docs1"), col("nb.n_docs").as("n_docs2"))
    val diag = diagC.join(nd, "cid")
      .select(col("cid").as("cid1"), col("cid").as("cid2"), col("jaccard"),
        col("n_docs").as("n_docs1"), col("n_docs").as("n_docs2"))
    cross.unionAll(diag)
  }

  /** Content-level verified pairs: (c1, c2, jaccard >= 0.5) cross pairs
    * and (cid, jaccard = 1.0) diagonal contents (>= 2 copies, banded).
    * Memoized per (session, dir) and checkpointed — three operators
    * (ngram_jaccard, near_contents, clusters) consume the same verified
    * set, so the shingle intersection join runs once per session, not
    * three times. Output bounded by verified content pairs.
    */
  private def verifiedContentPairs(s: SparkSession, dir: String,
                                   c: DataFrame): (DataFrame, DataFrame) =
    Memo.over(s, "Dedup.verified", s"$dir/documents.parquet") {
      val sh = contentShingles(c)
      val counts = sh.groupBy("cid").agg(count(lit(1)).as("n"))
      val (candC, banded) = contentCandidates(s, dir, c, 4, 2)
      val inter = candC
        .join(sh.as("a"), col("c1") === col("a.cid"))
        .join(sh.as("b"),
          col("c2") === col("b.cid") && col("a.sh") === col("b.sh"))
        .groupBy("c1", "c2").agg(count(lit(1)).as("inter"))
      val crossC = inter
        .join(counts.as("ca"), col("c1") === col("ca.cid"))
        .join(counts.as("cb"), col("c2") === col("cb.cid"))
        .select(col("c1"), col("c2"),
          (col("inter") / (col("ca.n") + col("cb.n") - col("inter"))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      val diagC = c.filter(col("n_docs") >= 2)
        .join(banded, "cid").select(col("cid"), lit(1.0).as("jaccard"))
      (crossC.localCheckpoint(), diagC.localCheckpoint())
    }

  /** (doc_id, simhash): 16-bit SimHash from per-token md5 bits (tokens
    * with multiplicity). All-integer arithmetic → exact across engines.
    */
  private[graft] def simhashPerDoc(s: SparkSession, dir: String): DataFrame =
    simhashOf(Tables.documents(s, dir))

  /** The same 16-bit SimHash over an arbitrary (doc_id, text) frame —
    * the form the streaming admission guard computes per micro-batch.
    */
  private[graft] def simhashOf(docs: DataFrame): DataFrame = {
    val toks = docs.select(
      col("doc_id"),
      explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val h16 = conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long")
    val withBits = toks.withColumn("v", h16)
    val bitSums = (0 until 16).map(b =>
      sum(when(shiftright(col("v"), b) % 2 === 1, 1).otherwise(-1)).as(s"s$b"))
    val perDoc = withBits.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 16).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    perDoc.select(col("doc_id"), sim.as("simhash"))
  }

  /** Cluster stats per exact simhash value. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashPerDoc(s, dir)
      .groupBy("simhash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))

  /** Near-dup pairs of DISTINCT simhash values:
    * (h1, h2, hamming ≤ maxDist, n_docs1, n_docs2), h1 < h2 plus the
    * h1 = h2 diagonal rows for hashes holding ≥ 2 docs. Block-LSH over
    * the pigeonhole split (a pair within the distance budget must agree
    * on at least one whole bit block), so candidates come from an equi
    * join on (block, blockBits) — and the join runs over DISTINCT hash
    * values, never documents: its input is bounded by the 2¹⁶ hash
    * space no matter the corpus size. This is the 100 TB surface —
    * duplicate-heavy corpora make the doc-pair SET itself quadratic in
    * copy multiplicity, while the hash-level result stays small; expand
    * to doc pairs only when, and where, a consumer needs them.
    */
  def simhashNearHashes(s: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 7, "16-bit simhash: 1 <= maxDist <= 7")
    val nBlocks = maxDist + 1
    val base = 16 / nBlocks
    val sizes = Seq.tabulate(nBlocks)(i => if (i < 16 % nBlocks) base + 1 else base)
    val offsets = sizes.scanLeft(0)(_ + _).init
    val blockCols = offsets.zip(sizes).zipWithIndex.map { case ((off, len), i) =>
      struct(lit(i).as("block"),
        (shiftright(col("simhash"), off) % (1L << len)).as("bits"))
    }
    val hashes = simhashPerDoc(s, dir)
      .groupBy("simhash").agg(count(lit(1)).as("n_docs"))
    val exploded = hashes
      .select(col("simhash"), col("n_docs"), explode(array(blockCols: _*)).as("bk"))
      .select(col("simhash"), col("n_docs"),
        col("bk.block").as("block"), col("bk.bits").as("bits"))
    val cross = exploded.as("a").join(exploded.as("b"),
        col("a.block") === col("b.block") && col("a.bits") === col("b.bits") &&
          col("a.simhash") < col("b.simhash"))
      .select(col("a.simhash").as("h1"), col("b.simhash").as("h2"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming"),
        col("a.n_docs").as("n_docs1"), col("b.n_docs").as("n_docs2"))
      .distinct()
      .filter(col("hamming") <= maxDist)
    val diagonal = hashes.filter(col("n_docs") >= 2)
      .select(col("simhash").as("h1"), col("simhash").as("h2"),
        lit(0L).as("hamming"), col("n_docs").as("n_docs1"),
        col("n_docs").as("n_docs2"))
    cross.unionAll(diagonal)
  }

  /** SimHash NEAR-dup DOC pairs: hamming(simhash₁, simhash₂) ≤
    * `maxDist`. Computed collapse-first: the block-LSH candidate join
    * runs over [[simhashNearHashes]]'s distinct hash values (input
    * bounded by the hash space), and only verified hash pairs expand
    * back to document pairs through two hash-equi joins — so the
    * internal work is O(distinct hashes) + O(output), never
    * O((docs per hash)²·blocks) of candidates. The 20× soak motivated
    * the rewrite: with 20 identical copies per doc, the doc-level
    * block join squared the copy multiplicity into 3× the (already
    * quadratic) output before dedup; collapse-first pays the
    * multiplicity only in the unavoidable output rows. Output is
    * inherently quadratic in duplicate multiplicity — prefer
    * [[simhashNearHashes]] at scale.
    */
  def simhashNearDup(s: SparkSession, dir: String, maxDist: Int = 2): DataFrame = {
    val sims = simhashPerDoc(s, dir)
    val near = simhashNearHashes(s, dir, maxDist)
    // cross-hash expansion: docs(h1) × docs(h2); same-hash pairs come
    // from the diagonal rows' own group (a.doc_id < b.doc_id)
    val a = sims.select(col("simhash").as("h1"), col("doc_id").as("d1"))
    val b = sims.select(col("simhash").as("h2"), col("doc_id").as("d2"))
    near.join(a, "h1").join(b, "h2")
      .filter(col("h1") =!= col("h2") || col("d1") < col("d2"))
      .select(least(col("d1"), col("d2")).as("id1"),
        greatest(col("d1"), col("d2")).as("id2"), col("hamming"))
  }

  /** Quality-aware exact dedup: within each content-hash group keep the
    * doc the quality scorer ranks highest (ties → lowest doc_id) — the
    * "which copy survives" policy real pipelines need when duplicates
    * differ in metadata. ONE scan: the score is computed inline
    * (TextAnalysis.scoreCol) in the same pass that hashes the content,
    * then a pure max_by aggregation — map-side combinable, no window,
    * no second scan + shuffle join.
    */
  def exactKeepBest(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), TextAnalysis.scoreCol.as("score"))
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        max_by(col("doc_id"), struct(col("score"), (-col("doc_id")).as("neg")))
          .as("keep_id"),
        count(lit(1)).as("n_copies"))

  /** Incremental (delta-vs-corpus) exact dedup — the shape a PRODUCTION
    * ingest actually runs: never re-dedup the whole corpus, dedup the
    * arriving batch against the already-ingested content index plus
    * itself. The "corpus" and "delta" halves come from the shared
    * deterministic hash split ([[TextAnalysis.sampleSplit]]'s unsalted
    * bucket: < 80 = ingested corpus, ≥ 80 = arriving delta). Verdicts:
    * `dup_of_corpus` (content already ingested; keep_id = the corpus's
    * min-id copy), `dup_within_delta` (first occurrence inside the
    * delta wins by doc_id), `kept`.
    *
    * Scale shape: the corpus side collapses to its DISTINCT-content
    * index (chash, min id) — the persistent index an ingest pipeline
    * maintains incrementally; the delta equi-joins it on the hash key.
    * Work per ingest is O(delta + matched index rows), never O(corpus):
    * re-running yesterday's dedup over 100 TB to admit 100 GB is
    * exactly what this shape avoids (on the index side the join key is
    * a uniform md5 — no skew by construction).
    */
  /** The shared UNSALTED hash split in [0, 100) over any id column —
    * the one corpus/delta membership rule every batch twin and
    * streaming leg must agree on (a drift here silently breaks every
    * backlog-equivalence contract). Mirrors TextAnalysis.sampleSplit's
    * bucket and the oracle's md5-nibble SQL.
    */
  def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 4), 16, 10)
      .cast("long") % 100L

  def incremental(s: SparkSession, dir: String,
                  corpusPct: Int = 80): DataFrame = {
    require(corpusPct > 0 && corpusPct < 100, "corpusPct must split both ways")
    val b = Tables.documents(s, dir).select(
      col("doc_id"), md5(col("text")).as("chash"),
      splitBucket(col("doc_id")).as("bucket"))
    val corpusIdx = b.filter(col("bucket") < corpusPct)
      .groupBy("chash").agg(min("doc_id").as("corpus_id"))
    val delta = b.filter(col("bucket") >= corpusPct).select("doc_id", "chash")
    val deltaMin = delta.groupBy("chash").agg(min("doc_id").as("delta_min"))
    delta.join(corpusIdx, Seq("chash"), "left").join(deltaMin, "chash")
      .select(col("doc_id"), col("chash"),
        when(col("corpus_id").isNotNull, "dup_of_corpus")
          .when(col("doc_id") > col("delta_min"), "dup_within_delta")
          .otherwise("kept").as("verdict"),
        coalesce(col("corpus_id"),
          when(col("doc_id") > col("delta_min"), col("delta_min")))
          .as("keep_id"))
  }

  /** PERSISTENT content-index maintenance (round 12) — the lifecycle
    * behind [[incremental]], materialized: the index an ingest pipeline
    * actually serves is a STORE, not a derivation, and each ingest
    * appends only the delta's NEW contents to it. v1 = the corpus
    * split's (chash, min doc_id) index; v2 = v1 plus one row per
    * delta content absent from v1 (first-arriving delta copy wins —
    * the FIRST-INGESTED contract, which is the production rule: an
    * index maps content to the copy that entered the corpus first, not
    * to a global min over time). Both versions are write-once
    * artifacts keyed on the documents fingerprint, so maintenance
    * is idempotent and each ingest's write cost is O(new contents),
    * never O(index): at 100 TB the v2 append is delta-sized while the
    * served index stays immutable behind it. Output: the v2 index with
    * `since_version` provenance.
    */
  def indexMaintain(s: SparkSession, dir: String,
                    corpusPct: Int = 80): DataFrame = {
    require(corpusPct > 0 && corpusPct < 100, "corpusPct must split both ways")
    def b = Tables.documents(s, dir).select(
      col("doc_id"), md5(col("text")).as("chash"),
      splitBucket(col("doc_id")).as("bucket"))
    // corpusPct keys both versions: a different split must never
    // silently serve the stale split's index
    val src = s"$dir/documents.parquet"
    val v1 = graft.Artifact(s, "dedupidx_v1", src, corpusPct) { out =>
      b.filter(col("bucket") < corpusPct)
        .groupBy("chash").agg(min("doc_id").as("keep_id"))
        .write.mode("overwrite").parquet(out)
    }
    val v2 = graft.Artifact(s, "dedupidx_v2", src, corpusPct) { out =>
      b.filter(col("bucket") >= corpusPct)
        .groupBy("chash").agg(min("doc_id").as("keep_id"))
        .join(s.read.parquet(v1).select("chash"), Seq("chash"), "left_anti")
        .write.mode("overwrite").parquet(out)
    }
    s.read.parquet(v1).withColumn("since_version", lit(1))
      .unionAll(s.read.parquet(v2).withColumn("since_version", lit(2)))
  }

  /** Pigeonhole block columns for a `bits`-wide hash column (16-bit
    * text simhash, 64-bit image phash): a pair within Hamming distance
    * `maxDist` must agree on at least one of the `maxDist + 1` bit
    * blocks, so an equi-join on (block, bits) is a complete candidate
    * generator. Shared by the batch near-hash join and the streaming
    * admission guards. Bit extraction is shift + mask (sign-safe for a
    * full-width 64-bit hash stored in a signed long).
    */
  private def simhashBlockCols(hash: Column, maxDist: Int,
                               bits: Int = 16): Seq[Column] = {
    val nBlocks = maxDist + 1
    val base = bits / nBlocks
    val sizes = Seq.tabulate(nBlocks)(i => if (i < bits % nBlocks) base + 1 else base)
    val offsets = sizes.scanLeft(0)(_ + _).init
    offsets.zip(sizes).zipWithIndex.map { case ((off, len), i) =>
      val mask = if (len >= 64) lit(-1L) else lit((1L << len) - 1L)
      struct(lit(i).as("block"),
        shiftrightunsigned(hash, off).bitwiseAND(mask).as("bits"))
    }
  }

  /** The SERVED near-dup admission index: the ingested corpus collapsed
    * to its DISTINCT simhash values (keep_id = min corpus doc_id per
    * hash), block-exploded for the pigeonhole equi-join. Bounded by the
    * 2¹⁶ hash space regardless of corpus size — the index a production
    * ingest maintains and every arriving batch joins against.
    */
  def admissionIndex(corpusSim: DataFrame, maxDist: Int = 2,
                     bits: Int = 16): DataFrame = {
    require(maxDist >= 1 && maxDist + 1 <= bits,
      s"$bits-bit hash: 1 <= maxDist <= ${bits - 1}")
    corpusSim
      .groupBy("simhash").agg(min("doc_id").as("keep_id"))
      .select(col("simhash").as("ihash"), col("keep_id"),
        explode(array(simhashBlockCols(col("simhash"), maxDist, bits): _*))
          .as("bk"))
      .select(col("ihash"), col("keep_id"),
        col("bk.block").as("block"), col("bk.bits").as("bits"))
  }

  /** Admission verdicts for a frame of (doc_id, simhash) arrivals
    * against a prepared [[admissionIndex]]: `dup_of_corpus` (keep_id =
    * the nearest corpus copy, ties by lowest id; hamming = the
    * distance) or `kept`. Per-doc work is O(blocks × matched index
    * rows) — never a scan of the corpus.
    */
  def admissionVerdicts(deltaSim: DataFrame, idx: DataFrame,
                        maxDist: Int = 2, bits: Int = 16): DataFrame = {
    val deltaBlocks = deltaSim
      .select(col("doc_id"), col("simhash"),
        explode(array(simhashBlockCols(col("simhash"), maxDist, bits): _*))
          .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.block").as("block"), col("bk.bits").as("bits"))
    val matches = deltaBlocks.join(idx, Seq("block", "bits"))
      .withColumn("hamming",
        expr("bit_count(simhash ^ ihash)").cast("long"))
      .filter(col("hamming") <= maxDist)
      .groupBy("doc_id")
      .agg(min_by(struct(col("hamming"), col("keep_id")),
        struct(col("hamming"), col("keep_id"))).as("best"))
      .select(col("doc_id"), col("best.keep_id").as("keep_id"),
        col("best.hamming").as("hamming"))
    deltaSim.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"),
        when(col("keep_id").isNotNull, "dup_of_corpus")
          .otherwise("kept").as("verdict"),
        col("keep_id"), col("hamming"))
  }

  /** Incremental NEAR-dup admission, batch form — the delta-vs-corpus
    * twin of [[incremental]] at simhash granularity: the corpus split
    * (shared unsalted doc_id-hash bucket < `corpusPct`) collapses to
    * its served simhash index; the arriving delta (bucket ≥) is checked
    * against it and verdicted `dup_of_corpus` / `kept`. This is the
    * batch contract the ONLINE [[graft.streaming.NearDupStream]] must
    * reproduce doc-for-doc on a backlog run. Work per ingest is
    * O(delta × blocks + matched index rows), never O(corpus) — at
    * 100 TB the index is hash-space-bounded (≤ 2¹⁶ rows) and
    * broadcasts.
    */
  def nearDupAdmission(s: SparkSession, dir: String, corpusPct: Int = 80,
                       maxDist: Int = 2): DataFrame = {
    require(corpusPct > 0 && corpusPct < 100, "corpusPct must split both ways")
    val sims = simhashPerDoc(s, dir)
      .withColumn("bucket", splitBucket(col("doc_id")))
    val idx = admissionIndex(sims.filter(col("bucket") < corpusPct), maxDist)
    admissionVerdicts(
      sims.filter(col("bucket") >= corpusPct).select("doc_id", "simhash"),
      idx, maxDist)
  }

  /** Duplicate clusters: connected components over the verified near-dup
    * pairs (ngramJaccard ≥ 0.5), labeled by the minimum reachable doc_id.
    * Distributed min-label propagation WITH pointer jumping: each round
    * every node takes the min of (its label, its neighbors' labels, its
    * label's label). The label-of-label shortcut halves the distance to
    * the component minimum each round, so convergence is O(log diameter)
    * rounds instead of O(diameter) — the difference between 4 and
    * thousands of shuffles on a chain-shaped component at 100 TB. No
    * driver-side data, only the convergence counter. The keep-one-per-
    * cluster step every real dedup pipeline ends with.
    */
  def clusters(s: SparkSession, dir: String): DataFrame = {
    // CC runs on the CONTENT graph (nodes/edges bounded by distinct
    // texts, not copies — the 100x soak measured 267s for doc-level CC
    // over 27M quadratic edges vs ~3k content edges), then every doc
    // inherits its content's cluster label. cid = group min doc_id, so
    // the min-label semantics match the doc-level formulation exactly;
    // diagonal-only contents enter as self-edges so lone duplicate
    // groups still form their cluster.
    val c = collapsed(s, dir)
    val (crossC, diagC) = verifiedContentPairs(s, dir, c)
    val edges = crossC.select(col("c1").as("id1"), col("c2").as("id2"))
      .unionAll(diagC.select(col("cid").as("id1"), col("cid").as("id2")))
    val labels = clustersFromEdges(edges)._1
      .select(col("doc_id").as("cid"), col("cluster_id"))
    labels.join(contentDocs(s, dir, c), "cid")
      .select("doc_id", "cluster_id")
  }

  /** The propagation core over an arbitrary (id1, id2) edge set; returns
    * (labels, rounds) — rounds is the shuffle-iteration count the
    * pointer jumping keeps logarithmic.
    */
  def clustersFromEdges(edges: DataFrame): (DataFrame, Int) = {
    // localCheckpoint truncates lineage: without it every iteration
    // replans (and the optimizer re-walks) the whole accumulated chain —
    // measured 5× slower by round 3.
    // co-partition the edge frame by id1 ONCE (optimization r18, guide
    // §2.2): every round's neighbor-min groupBy keys on id1, and
    // localCheckpoint preserves outputPartitioning, so the per-round
    // aggregation reuses this exchange instead of reshuffling the edge
    // frame every round (the labels side broadcasts — only the V-sized
    // frames move per round, the 100 TB posture pagerank documents)
    val sym = edges.unionAll(
      edges.select(col("id2").as("id1"), col("id1").as("id2")))
      .repartition(col("id1"))
      .localCheckpoint()
    var labels = sym.select(col("id1").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()
    var changed = 1L
    var rounds = 0
    // A fused one-join round (label-edges appended to sym so pointer
    // jumping rides the neighbor join) was measured SLOWER here
    // (2.2 -> 3.5-4.2 s on q_components' graph): the union doubles the
    // round's scan tasks and the V-sized join-backs it replaced were
    // cheap broadcasts. Kept as the r17 three-join shape.
    // A fused TWO-HOP round (halving the checkpoint count) was measured
    // SLOWER here (optimization r18: semantic 2.9 -> 3.3-4.2 s,
    // components 1.6 -> 2.3 s): the second hop re-derives the first as
    // broadcast subtrees, spawning MORE AQE stage-jobs per round than
    // the saved checkpoints. Kept as one hop per materialized round.
    // AQE-OFF for the loop was measured 3-5x WORSE (semantic 2.9 ->
    // 9-11 s): without AQE the per-round joins plan as 32-partition
    // sort-merge joins instead of runtime broadcasts — the barriered
    // broadcast stage-jobs are the cheaper evil. Kept AQE on.
    while (changed > 0) {
      rounds += 1
      val neighborMin = sym
        .join(labels.select(col("id").as("id2"), col("label").as("nlabel")), "id2")
        .groupBy(col("id1").as("id")).agg(min("nlabel").as("nmin"))
      // pointer jumping: a label is itself a node id, so look up ITS
      // current label and shortcut to it
      val labelOf = labels.select(col("id").as("label"), col("label").as("plabel"))
      // the change count rides an OBSERVATION on the checkpoint job
      // (optimization r18, guide §2.6): the r17 form ran a separate
      // count job per round over the materialized blocks — cheap but
      // still one scheduler round-trip × O(log n) rounds; the observed
      // metric is collected by the same job that materializes the round
      val obs = new org.apache.spark.sql.Observation()
      val next = labels.join(neighborMin, "id")
        .join(labelOf, "label")
        .select(col("id"),
          least(col("label"), col("nmin"), col("plabel")).as("label"),
          (least(col("label"), col("nmin"), col("plabel")) < col("label"))
            .as("chg"))
        .observe(obs, sum(when(col("chg"), 1L).otherwise(0L)).as("n"))
        .localCheckpoint()
      changed = Option(obs.get("n")).filterNot(_ == null)
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next.select("id", "label")
    }
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"CC_DEBUG rounds=$rounds")
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")), rounds)
  }

  /** Embedding-cosine near-dup pairs, bucketed by the shared
    * random-hyperplane LSH (Similarity.planeBucket) so the pair join is
    * bucket-local instead of O(N²). Threshold 0.3 — the synthetic
    * embeddings are near-orthogonal (max pairwise cos ≈ 0.44), so a
    * production-style 0.9 would select nothing; the operator semantics
    * are threshold-parametric either way.
    */
  /** [[embeddingNearDup]] with the plane count derived from the corpus
    * size (Similarity.suggestedPlanes): one count() — a metadata-cheap
    * scan — picks planes so expected bucket population stays constant
    * as N grows. At 100 TB the count comes from table stats; the point
    * is that the knob is a function of N, not a constant that silently
    * turns the bucket join quadratic at 1000×.
    */
  def embeddingNearDupAuto(s: SparkSession, dir: String,
                           threshold: Double = 0.3): DataFrame = {
    val n = Tables.embeddings(s, dir).count()
    embeddingNearDup(s, dir, Similarity.suggestedPlanes(n), threshold)
  }

  def embeddingNearDup(s: SparkSession, dir: String,
                       numPlanes: Int = Similarity.NumPlanes,
                       threshold: Double = 0.3): DataFrame =
    embeddingNearDupTagged(taggedVecs(s, dir), numPlanes, threshold)

  /** (gid, vec_id, embedding) with gid = min vec_id per DISTINCT vector,
    * materialized once per (session, dir) — the embedding-side analogue
    * of [[collapsed]]: a real pipeline writes its exact-dedup vector
    * table once and reads it everywhere. Size bounded by the corpus
    * (one row per vector), the tag by distinct vectors.
    */
  private def taggedVecs(s: SparkSession, dir: String): DataFrame =
    Memo.over(s, "Dedup.taggedVecs", Tables.embeddingsFile(dir), Tables.clustered(dir))(
      tagVecs(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
        .localCheckpoint())

  private def tagVecs(raw: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("embedding")
    raw.withColumn("gid", min("vec_id").over(w))
  }

  /** Collapse-first form of the LSH-bucketed cosine pair join, same
    * output pair-for-pair as a direct bucket self-join over the raw
    * table (DedupSpec proves set equality on a duplicated corpus).
    *
    * The pair join runs over DISTINCT vectors only: on a duplicate-heavy
    * corpus a direct self-join squares the bucket population — the 100x
    * soak (pure 100x duplication) measured 148.7 s for the direct plan;
    * every other dedup operator here already collapses first, and this
    * is the same shape. Group id = min vec_id per distinct vector (one
    * window shuffle keyed on the vector itself — no hash fingerprint, so
    * no collision risk in the oracle-exact gate); candidates and the
    * cosine threshold are evaluated at the group level, and only
    * SURVIVING pairs expand back to vec_id pairs (the expansion is the
    * legitimate quadratic output, not wasted compare work). Identical
    * vectors always share a bucket, so intra-group pairs expand
    * unconditionally from the (rarely sub-threshold) self-cosine, with
    * the exact arithmetic of the direct plan: DecimalDot is
    * order-independent and both legs of an intra pair reuse the rep's
    * norm, so every emitted cosine is bit-identical to the direct join's.
    */
  private[graft] def embeddingNearDupOf(raw: DataFrame, numPlanes: Int,
                                        threshold: Double): DataFrame =
    embeddingNearDupTagged(tagVecs(raw), numPlanes, threshold)

  private def embeddingNearDupTagged(tagged: DataFrame, numPlanes: Int,
                                     threshold: Double): DataFrame = {
    val members = tagged.select(col("gid"), col("vec_id"))
    val reps = tagged.filter(col("vec_id") === col("gid"))
      .select(col("gid"), col("embedding"),
        Similarity.planeBucket(col("embedding"), numPlanes).as("bucket"),
        Similarity.dot("embedding", "embedding").as("norm"))
    val cross = reps.as("a").join(reps.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.gid") < col("b.gid"))
      .select(col("a.gid").as("g1"), col("b.gid").as("g2"),
        (Similarity.dot("a.embedding", "b.embedding") /
          (sqrt(col("a.norm")) * sqrt(col("b.norm")))).as("cosine"))
      .filter(col("cosine") >= threshold)
    val intra = reps
      .select(col("gid"),
        (col("norm") / (sqrt(col("norm")) * sqrt(col("norm")))).as("cosine"))
      .filter(col("cosine") >= threshold)
    val m1 = members.select(col("gid").as("g1"), col("vec_id").as("ida"))
    val m2 = members.select(col("gid").as("g2"), col("vec_id").as("idb"))
    // cross-group member sets are disjoint: least/greatest orients each
    // unordered pair exactly once. Intra-group needs ida < idb to avoid
    // emitting both orientations (and the self-pair).
    val crossPairs = cross.join(m1, "g1").join(m2, "g2")
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"), col("cosine"))
    val intraPairs = intra
      .join(m1.withColumnRenamed("g1", "gid"), "gid")
      .join(m2.withColumnRenamed("g2", "gid"), "gid")
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("id1"), col("idb").as("id2"), col("cosine"))
    crossPairs.unionAll(intraPairs)
  }

  /** Embedding-cosine admission index: the ingested corpus collapsed to
    * DISTINCT vectors (keep_id = min corpus vec_id per embedding), each
    * carrying its LSH bucket and exact-decimal self-dot — the served
    * form an arriving batch probes with ONE bucket equi-join. Index
    * size is bounded by distinct vectors; at 100 TB the planes knob
    * (Similarity.suggestedPlanes) keeps expected bucket population flat.
    */
  def embAdmissionIndex(corpus: DataFrame,
                        numPlanes: Int = Similarity.NumPlanes): DataFrame =
    corpus.groupBy("embedding").agg(min("vec_id").as("keep_id"))
      .select(col("keep_id"), col("embedding").as("iemb"),
        Similarity.planeBucket(col("embedding"), numPlanes).as("bucket"),
        graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
          .as("inorm"),
        // 64-bit sign sketch in two 32-bit halves (Similarity's
        // hammingAnn packing) — 16 bytes per index row lets the
        // hamming gate's radius prefilter run sketch-only (round 15)
        Similarity.signSketch(col("embedding"), 0).as("isk0"),
        Similarity.signSketch(col("embedding"), 1).as("isk1"))

  /** Admission verdicts for arriving (vec_id, embedding) rows against a
    * prepared [[embAdmissionIndex]]: `dup_of_corpus` (the highest-cosine
    * corpus vector at ≥ threshold; ties by lowest keep_id) or `kept`.
    * INDEXED semantics, same soundness posture as ann_range_lsh: only
    * the arrival's own LSH bucket is probed — every miss is a
    * cross-bucket pair — which is the 100 TB trade every online
    * near-dup gate makes (the batch dedup_embedding sweep with the
    * corpus-sized planes knob is the offline complement).
    */
  def embAdmissionVerdicts(delta: DataFrame, idx: DataFrame,
                           numPlanes: Int = Similarity.NumPlanes,
                           threshold: Double = 0.3,
                           nprobe: Int = 1): DataFrame = {
    // nprobe > 1 probes the (nprobe − 1) smallest-margin sign flips too
    // (Similarity.planeProbeBuckets) — the recall knob the measurement
    // record (admissionRecall) grades; nprobe = 1 keeps the original
    // single-equi-join plan byte-for-byte
    val d0 = delta.select(col("vec_id"), col("embedding"),
      graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
        .as("norm"))
    val d =
      if (nprobe == 1)
        d0.withColumn("bucket",
          Similarity.planeBucket(col("embedding"), numPlanes))
      else
        d0.withColumn("bucket", explode(
          Similarity.planeProbeBuckets(col("embedding"), numPlanes, nprobe)))
    val best = d.join(idx, Seq("bucket"))
      .withColumn("cosine",
        graft.functions.VectorOps.dot(col("embedding"), col("iemb")) /
          (sqrt(col("norm")) * sqrt(col("inorm"))))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_id")
      .agg(min_by(struct(col("keep_id"), col("cosine")),
        struct((-col("cosine")).as("nc"), col("keep_id"))).as("best"))
      .select(col("vec_id"), col("best.keep_id").as("keep_id"),
        col("best.cosine").as("cosine"))
    // anchor on the UNEXPLODED arrivals: one verdict row per vec_id
    // whatever the probe width
    d0.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("keep_id").isNotNull, "dup_of_corpus")
          .otherwise("kept").as("verdict"),
        col("keep_id"), col("cosine"))
  }

  /** Admission verdicts through the HAMMING-SKETCH gate (round 15;
    * VERDICT r14 #1) — the measured-adequate served default: the
    * arriving batch (small, broadcast) scans the index under a
    * sketch-popcount radius prefilter, then the exact cosine ≥
    * threshold verdict runs on survivors only. On the raw
    * near-orthogonal corpus the plane-LSH bucket equi-join measures
    * 0.045 recall at nprobe=1 (admission_recall's emb_probe1 leg —
    * the documented degenerate regime) while this gate measures 0.857
    * there and 0.9999 on the clustered corpus (radius 28); the recall
    * records (admission_recall / admission_recall_clustered,
    * emb_hamming leg) re-measure both every round.
    *
    * Scale shape: the ann_hamming trade, applied to admission. The
    * radius cut is a broadcast-nested-loop FILTER over a 16-byte/row
    * sketch projection of the index — zero shuffles, work = |delta| ×
    * |index| two-long popcounts, with only ball survivors reaching the
    * 256-byte vectors and the cosine kernel. Linear in index size per
    * pass (the price of radius completeness over the sketch — a bucket
    * join cannot express a hamming ball), sublinear alternatives stay
    * available as the plane-LSH legs ([[embAdmissionPlanes]]) when
    * measured-recall requirements allow.
    */
  def embAdmissionVerdictsHamming(delta: DataFrame, idx: DataFrame,
                                  radius: Int = Similarity.HammingRadius,
                                  threshold: Double = 0.3): DataFrame = {
    val d0 = delta.select(col("vec_id"), col("embedding"),
      graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
        .as("norm"),
      Similarity.signSketch(col("embedding"), 0).as("qs0"),
      Similarity.signSketch(col("embedding"), 1).as("qs1"))
    // Plan-shape note (measured at sf0.1, noop-sink reps): the fused
    // one-join plan below runs ~1.1 s; a two-phase variant (sketch-only
    // candidate BNL, vectors fetched for survivors via equi joins) and
    // a popcount-first ordered condition both measured EQUAL OR SLOWER
    // (1.3–1.7 s) — at radius 28 the ball keeps ~19 % of pairs on the
    // near-orthogonal corpus, so the join-back machinery costs more
    // than the short-circuited dots save. The linear sketch scan is the
    // honest cost of radius completeness (FAISS IndexBinaryFlat's
    // shape); the sublinear alternative remains the plane-LSH gate.
    val ham = (expr("bit_count(isk0 ^ qs0)") +
      expr("bit_count(isk1 ^ qs1)")).cast("long")
    val best = broadcast(d0).join(idx, ham <= radius)
      .withColumn("cosine",
        graft.functions.VectorOps.dot(col("embedding"), col("iemb")) /
          (sqrt(col("norm")) * sqrt(col("inorm"))))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_id")
      .agg(min_by(struct(col("keep_id"), col("cosine")),
        struct((-col("cosine")).as("nc"), col("keep_id"))).as("best"))
      .select(col("vec_id"), col("best.keep_id").as("keep_id"),
        col("best.cosine").as("cosine"))
    d0.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("keep_id").isNotNull, "dup_of_corpus")
          .otherwise("kept").as("verdict"),
        col("keep_id"), col("cosine"))
  }

  /** Admission verdicts through the IVF-CELL-PRUNED hamming gate
    * (round 16; VERDICT r15 #1 — FAISS IndexBinaryIVF's shape): the
    * arrival probes its `nprobe` nearest coarse cells of a TRAINED
    * quantizer (`cents` — Similarity.trainedCentroids; formula cells
    * measured inadequate: they ignore the corpus's topic directions,
    * clustered recall 0.59 at nprobe 4), the sketch radius cut runs
    * WITHIN the probed posting lists only, and the exact cosine ≥
    * threshold verdict runs on survivors. The join is a cell EQUI-join
    * (hash, not nested-loop) with the popcount as a residual —
    * per-pass work is Σ_cell |probes∩cell| × |index∩cell| instead of
    * |delta| × |index|: SUBLINEAR in index size whenever the cells
    * carry the corpus's structure, which is what retires the flat
    * scan's 100 TB objection.
    *
    * Measured operating envelope (admission_recall records, re-derived
    * every round): at the SEMANTIC threshold ([[SemThreshold]] — above
    * the clustered corpus's cross-topic cosine ceiling, so every true
    * match is a topic-mate) the trained cells catch recall ≈ 1.0 with
    * ~7× candidate reduction. At the loose 0.3 threshold a large
    * fraction of true matches is CROSS-topic (cos 0.3–0.78 across
    * different clusters) — no coarse quantizer can prune those without
    * dropping them, measured 0.55–0.84 recall — so the picker
    * ([[embAdmission]]) serves this gate only at thresholds ≥ the
    * semantic bar and keeps the flat radius scan
    * ([[embAdmissionVerdictsHamming]]) as the completeness fallback
    * below it.
    */
  def embAdmissionVerdictsIvfHamming(delta: DataFrame, idx: DataFrame,
                                     cents: IndexedSeq[IndexedSeq[Double]],
                                     nprobe: Int = AdmissionNprobe,
                                     radius: Int = Similarity.HammingRadius,
                                     threshold: Double = SemThreshold): DataFrame = {
    val d0 = delta.select(col("vec_id"), col("embedding"),
      graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
        .as("norm"),
      Similarity.signSketch(col("embedding"), 0).as("qs0"),
      Similarity.signSketch(col("embedding"), 1).as("qs1"))
    val idxC = idx.withColumn("icell",
      Similarity.cellColOf(col("iemb"), cents))
    val probes = d0.withColumn("icell", explode(
      Similarity.probeCellsColOf(col("embedding"), cents, nprobe)))
    val ham = (expr("bit_count(isk0 ^ qs0)") +
      expr("bit_count(isk1 ^ qs1)")).cast("long")
    val best = broadcast(probes).join(idxC, Seq("icell"))
      .filter(ham <= radius)
      .withColumn("cosine",
        graft.functions.VectorOps.dot(col("embedding"), col("iemb")) /
          (sqrt(col("norm")) * sqrt(col("inorm"))))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_id")
      .agg(min_by(struct(col("keep_id"), col("cosine")),
        struct((-col("cosine")).as("nc"), col("keep_id"))).as("best"))
      .select(col("vec_id"), col("best.keep_id").as("keep_id"),
        col("best.cosine").as("cosine"))
    d0.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("keep_id").isNotNull, "dup_of_corpus")
          .otherwise("kept").as("verdict"),
        col("keep_id"), col("cosine"))
  }

  /** The cell-pruned gate's trained-quantizer size and probe width:
    * 32 cells, probe the 4 nearest — measured on the clustered
    * admission-recall record at recall 1.0 / ~7× candidate reduction
    * (both SFs); AdmissionRecallSpec pins the ≥ 0.8 floor and the
    * ≥ 4× reduction every round. At 100 TB the cell count follows
    * SemDeDup's k ∝ √N rule (Similarity.suggestedCells), keeping
    * per-cell posting lists — and so per-pass probe work — flat.
    */
  val AdmissionCells = 32
  val AdmissionNprobe = 4
  val AdmissionIters = 3

  /** Embedding-cosine admission, batch form — the vector-space sibling
    * of [[nearDupAdmission]] (round 12): corpus = the unsalted
    * vec_id-hash split (bucket < corpusPct) collapsed to its served
    * vector index; the arriving delta is verdicted against it. The
    * ONLINE leg streams on the same served index
    * (graft.streaming.NearDupStream.embRunOnce).
    */
  def embAdmissionPlanes(s: SparkSession, dir: String, corpusPct: Int = 80,
                         numPlanes: Int = Similarity.NumPlanes,
                         threshold: Double = 0.3, nprobe: Int = 1): DataFrame = {
    require(corpusPct > 0 && corpusPct < 100, "corpusPct must split both ways")
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .withColumn("split", splitBucket(col("vec_id")))
    val idx = embAdmissionIndex(
      emb.filter(col("split") < corpusPct).select("vec_id", "embedding"),
      numPlanes)
    embAdmissionVerdicts(
      emb.filter(col("split") >= corpusPct).select("vec_id", "embedding"),
      idx, numPlanes, threshold, nprobe)
  }

  /** The SERVED DEFAULT embedding-admission gate — a measured PICK
    * between the two radius machines (round 16; VERDICT r15 #1):
    *
    *  - threshold ≥ [[SemThreshold]] (the semantic regime — every true
    *    match is a topic-mate, the only regime such a threshold selects
    *    anything in): the IVF-CELL-PRUNED hamming gate
    *    ([[embAdmissionVerdictsIvfHamming]]) over a trained
    *    [[AdmissionCells]]-cell quantizer — SUBLINEAR per pass
    *    (measured ~7× candidate reduction at recall 1.0 on the
    *    clustered record).
    *  - below it (the loose regime the raw near-orthogonal corpus
    *    needs — its max pairwise cosine ≈ 0.44): the FLAT hamming
    *    radius scan ([[embAdmissionVerdictsHamming]]) — radius-complete
    *    by construction; measured on the same records, cross-topic
    *    matches at loose thresholds defeat any coarse quantizer
    *    (IVF recall 0.55–0.84 there), so completeness is the correct
    *    trade and the linear pass is its honest cost.
    *
    * The pick is grounded in the admission_recall / _clustered records
    * (the `emb_hamming` and `emb_ivf_hamming` legs), re-measured every
    * round; AdmissionRecallSpec asserts the served floor on both.
    * The plane-LSH family stays available explicitly
    * ([[embAdmissionPlanes]]) as the bucket-sublinear trade.
    */
  def embAdmission(s: SparkSession, dir: String, corpusPct: Int = 80,
                   radius: Int = Similarity.HammingRadius,
                   threshold: Double = 0.3): DataFrame = {
    require(corpusPct > 0 && corpusPct < 100, "corpusPct must split both ways")
    // spread the corpus scan (optimization r18, guide §2.5): the
    // trained-cell assignment + sketch projections are per-row-heavy
    // decimal work that otherwise runs on the single-row-group scan's
    // one task; gated no-op at production partition counts
    val emb = Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("split", splitBucket(col("vec_id")))
    val idx = embAdmissionIndex(
      emb.filter(col("split") < corpusPct).select("vec_id", "embedding"))
    val delta = emb.filter(col("split") >= corpusPct)
      .select("vec_id", "embedding")
    if (threshold >= SemThreshold)
      embAdmissionVerdictsIvfHamming(delta, idx,
        Similarity.trainedCentroids(s, dir, AdmissionCells),
        AdmissionNprobe, radius, threshold)
    else
      embAdmissionVerdictsHamming(delta, idx, radius, threshold)
  }

  /** MEASURED RECALL of the online admission gates (round 13; VERDICT
    * r12 #6) — the ann_recall posture applied to admission: for each
    * arriving delta item with at least one TRUE corpus match (hamming ≤
    * maxDist / cosine ≥ threshold, brute-forced over the COLLAPSED
    * index — a measurement query re-running the exact scan by
    * construction, like ann_recall), the fraction of true matches the
    * indexed probe catches.
    *
    * Legs: `simhash_block` — the pigeonhole block join is a COMPLETE
    * generator, so its measured recall is identically 1.0; the record
    * proves that theorem empirically every round (a regression in the
    * block math would hash-mismatch). `emb_probe1/2/4` — the LSH
    * bucket probe at increasing multi-probe widths
    * (Similarity.planeProbeBuckets): misses are cross-bucket only, and
    * widening the probe set only adds candidates, so recall is monotone
    * in nprobe (spec-asserted on this record, AdmissionRecallSpec).
    */
  def admissionRecall(s: SparkSession, dir: String, corpusPct: Int = 80,
                      maxDist: Int = 2, numPlanes: Int = Similarity.NumPlanes,
                      threshold: Double = 0.3): DataFrame = {
    // ---- simhash leg: truth over DISTINCT hashes (≤ 2^16 each side) --
    // the per-doc simhash frame is MATERIALIZED once (optimization r17,
    // guide §1.2): the record's union branches otherwise re-run the
    // corpus tokenize+hash pass once per lazy consumer (~7 evaluations
    // through ihashes/delta/dhashes/idx) — the frame is 2 narrow
    // columns per doc, far cheaper to hold than to recompute. The
    // eager checkpoint runs CONCURRENTLY with the embedding legs'
    // construction (whose own eager materializations are independent
    // jobs) — guide §2.6, optimization r18: the r17 form serialized
    // four checkpoint jobs on the record's critical path.
    val (sims, embLegs) = Par.both(s)(
      simhashPerDoc(s, dir)
        .withColumn("bucket", splitBucket(col("doc_id")))
        .localCheckpoint(),
      admissionRecallEmb(s, dir, corpusPct, numPlanes, threshold))
    val ihashes = sims.filter(col("bucket") < corpusPct)
      .select(col("simhash").as("ihash")).distinct()
    val delta = sims.filter(col("bucket") >= corpusPct)
      .select("doc_id", "simhash")
    val dhashes = delta.select("simhash").distinct()
    val truePairs = dhashes.crossJoin(broadcast(ihashes))
      .filter(expr("bit_count(simhash ^ ihash)") <= maxDist)
    val idx = admissionIndex(
      sims.filter(col("bucket") < corpusPct).select("doc_id", "simhash"),
      maxDist)
    val caughtPairs = dhashes
      .select(col("simhash"),
        explode(array(simhashBlockCols(col("simhash"), maxDist): _*)).as("bk"))
      .select(col("simhash"), col("bk.block").as("block"), col("bk.bits").as("bits"))
      .join(idx, Seq("block", "bits"))
      .filter(expr("bit_count(simhash ^ ihash)") <= maxDist)
      .select("simhash", "ihash").distinct()
    def perDoc(pairs: DataFrame, out: String): DataFrame =
      delta.join(pairs.groupBy("simhash").agg(count(lit(1)).as(out)),
        Seq("simhash"))
    val simLeg = perDoc(truePairs, "n_truth")
      .join(perDoc(caughtPairs, "n_hits").select("doc_id", "n_hits"),
        Seq("doc_id"), "left")
      .select(lit("simhash_block").as("method"), col("doc_id").as("id"),
        col("n_truth"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    simLeg.unionAll(embLegs)
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth").cast("double"))
  }

  /** The embedding legs of the admission-recall record — probe-width
    * plane legs plus the hamming-sketch leg — parameterized by dir so
    * the same measurement runs on the raw corpus (inside
    * [[admissionRecall]]) and on the CLUSTERED derived corpus
    * ([[admissionRecallClustered]], round 15): the raw near-orthogonal
    * table is the documented LSH-degenerate canary; the clustered
    * corpus is the regime where recall is a real quality signal.
    */
  private def admissionRecallEmb(s: SparkSession, dir: String,
                                 corpusPct: Int = 80,
                                 numPlanes: Int = Similarity.NumPlanes,
                                 threshold: Double = 0.3,
                                 radius: Int = Similarity.HammingRadius)
      : DataFrame = {
    val emb = Tables.embeddingsSpread(s, dir)
      .select(col("vec_id"), col("embedding"))
      .withColumn("split", splitBucket(col("vec_id")))
    // index and delta frames MATERIALIZED once (optimization r17): six
    // legs re-derived the plane-bucket index and the query-side sketch
    // projection per lazy consumer; both are corpus-row-sized with
    // narrow extra columns. The two eager checkpoints are INDEPENDENT
    // jobs, so they run on concurrent driver threads (optimization r18,
    // guide §2.6 — the r17 form ran them back to back, and on the raw
    // record the serialized job latency was the measured regression):
    // critical path = max(index, delta) instead of their sum.
    val (vidx, vdelta) = Par.both(s)(
      embAdmissionIndex(
        emb.filter(col("split") < corpusPct).select("vec_id", "embedding"),
        numPlanes).localCheckpoint(),
      emb.filter(col("split") >= corpusPct)
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorOps.dot(col("embedding"), col("embedding"))
            .as("norm"),
          Similarity.signSketch(col("embedding"), 0).as("qs0"),
          Similarity.signSketch(col("embedding"), 1).as("qs1"))
        .localCheckpoint())
    val cos = graft.functions.VectorOps.dot(col("embedding"), col("iemb")) /
      (sqrt(col("norm")) * sqrt(col("inorm")))
    // BOTH truth sets (loose + semantic threshold) in ONE brute-force
    // pass (optimization r17, guide §1.2/§2.4): the record's five legs
    // each consumed a lazily recomputed truth frame, so the delta×index
    // cosine kernel — the record's dominant cost — ran once per union
    // branch (4× for vtruth, 1× for vtruth8). One conditional-count
    // aggregate computes both thresholds in a single pass, and the
    // checkpoint materializes COUNTS (one row per delta vec), not the
    // pair projection — the r15 measurement that rejected an eager
    // checkpoint materialized the pairs themselves, which is why it
    // lost; the aggregated frame is delta-sized.
    val cosPairs = vdelta.crossJoin(broadcast(vidx.drop("bucket")))
      .select(col("vec_id"), cos.as("__cos"))
    val truthCounts = cosPairs.groupBy("vec_id")
      .agg(count(when(col("__cos") >= threshold, lit(1))).as("__nt"),
        count(when(col("__cos") >= SemThreshold, lit(1))).as("__nt8"))
      .localCheckpoint()
    val vtruth = truthCounts.filter(col("__nt") > 0)
      .select(col("vec_id"), col("__nt").as("n_truth"))
    def leg(name: String, probed: DataFrame): DataFrame =
      vtruth.join(
          probed.filter(cos >= threshold)
            .groupBy("vec_id").agg(count(lit(1)).as("n_hits")),
          Seq("vec_id"), "left")
        .select(lit(name).as("method"), col("vec_id").as("id"),
          col("n_truth"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    def embLeg(nprobe: Int): DataFrame =
      leg(s"emb_probe$nprobe",
        vdelta.withColumn("bucket", explode(
          Similarity.planeProbeBuckets(col("embedding"), numPlanes, nprobe)))
          .join(vidx, Seq("bucket")))
    // the served default's leg: sketch-popcount radius prefilter, then
    // the exact cosine cut — the candidate set embAdmission verdicts on
    // (same fused plan shape; see the plan-shape note there)
    val hamLeg: DataFrame = leg("emb_hamming",
      broadcast(vdelta).join(vidx,
        (expr("bit_count(isk0 ^ qs0)") +
          expr("bit_count(isk1 ^ qs1)")).cast("long") <= radius))
    // the IVF-cell-pruned gate's leg (round 16), measured AT ITS
    // OPERATING POINT: truth at the SEMANTIC threshold (the regime the
    // picker serves it in — at the loose threshold its cross-topic
    // misses are the measured reason the flat scan stays the default
    // there), trained cells, radius prefilter within probed cells
    // only. On the raw corpus the semantic truth set is EMPTY (max
    // pairwise cosine ≈ 0.44), so the leg contributes rows only to the
    // clustered record — the raw record keeps it as a structural
    // canary.
    val cents = Similarity.trainedCentroids(s, dir, AdmissionCells)
    val vtruth8 = truthCounts.filter(col("__nt8") > 0)
      .select(col("vec_id"), col("__nt8").as("n_truth"))
    val ivfHits = broadcast(vdelta.withColumn("icell", explode(
        Similarity.probeCellsColOf(col("embedding"), cents, AdmissionNprobe))))
      .join(vidx.withColumn("icell", Similarity.cellColOf(col("iemb"), cents)),
        Seq("icell"))
      .filter((expr("bit_count(isk0 ^ qs0)") +
        expr("bit_count(isk1 ^ qs1)")).cast("long") <= radius)
      .filter(cos >= SemThreshold)
      .groupBy("vec_id").agg(count(lit(1)).as("n_hits"))
    val ivfLeg: DataFrame = vtruth8.join(ivfHits, Seq("vec_id"), "left")
      .select(lit("emb_ivf_hamming").as("method"), col("vec_id").as("id"),
        col("n_truth"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
    (Seq(1, 2, 4).map(embLeg) :+ hamLeg :+ ivfLeg).reduce(_ unionAll _)
  }

  /** [[admissionRecallEmb]] on the CLUSTERED derived corpus — the
    * realistic measurement regime (VERDICT r14 #1): topic structure
    * gives the plane probes real mass to catch, so the record grades
    * the gates where recall is a quality signal, with the raw-corpus
    * record ([[admissionRecall]]) kept as the degenerate canary.
    */
  def admissionRecallClustered(s: SparkSession, dir: String): DataFrame =
    admissionRecallEmb(s, dir + Tables.ClusteredTag)
      .withColumn("recall",
        col("n_hits").cast("double") / col("n_truth").cast("double"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — semantic dedup
    * over an embedding column: cluster the corpus, call vectors in the
    * SAME cluster with cosine ≥ `threshold` semantic duplicates, and
    * keep ONE per duplicate group — the member FARTHEST from its cell
    * centroid (the paper's low-similarity-to-centroid keep rule;
    * vec_id breaks exact dist ties). Clustering reuses the IVF coarse
    * cells (Similarity.cellDists, nearest formula centroid), duplicate
    * groups are connected components over the within-cell ≥-threshold
    * pairs (the same pointer-jumping CC as [[clustersFromEdges]]).
    *
    * Scale shape: the pair join is within-cell only — candidate count
    * is Σ cellPop², bounded by (N/numCells)·N at even occupancy; real
    * SemDeDup runs numCells ∝ √N (the paper uses 50k clusters at 100M
    * docs), which keeps per-cell population — and so per-reducer work —
    * flat as the corpus grows. Cross-cell near-dups are invisible by
    * design (the paper's documented approximation). CC rounds are
    * O(log diameter); every per-group reduction is a partial agg.
    */
  /** SemDeDup cosine threshold — interpolated into the DuckDB oracle so
    * the knob cannot desynchronize the two engines. 0.8 sits above the
    * clustered corpus's cross-topic ceiling (measured max 0.782), so
    * every duplicate pair it admits is a true topic-mate.
    */
  val SemThreshold = 0.8

  def semantic(s: SparkSession, dir: String,
               numCells: Int = Similarity.NumCells,
               threshold: Double = SemThreshold): DataFrame =
    semanticFromCells(graft.plans.TopK.perKey(
      Similarity.cellDists(s, dir, numCells),
      Seq(col("vec_id")), Seq(col("dist"), col("cell")), 1).drop("rnk"),
      threshold)

  /** SemDeDup's DEPLOYMENT form: cells from sample-trained k-means with
    * k ∝ √N (the paper runs 50k clusters at 100M docs for exactly this
    * reason) — data-fit centroids actually partition the corpus, so
    * within-cell pair counts stay ~N·√N-bounded where the 16 formula
    * cells of [[semantic]] would square on any corpus whose topics
    * outnumber them. Same pair→CC→keep machinery; rows-only for the
    * driver oracle (k-means is not SQL-expressible), determinism and
    * invariants ScalaTest-asserted like the other trained indexes.
    */
  def semanticTrained(s: SparkSession, dir: String,
                      numCells: Int = 0, iters: Int = 3,
                      threshold: Double = SemThreshold,
                      samplePct: Int = 20): DataFrame = {
    val k =
      if (numCells > 0) numCells
      else {
        val n = graft.Tables.embeddings(s, dir).count()
        math.max(Similarity.NumCells, math.ceil(math.sqrt(n.toDouble)).toInt)
      }
    semanticFromCells(
      Similarity.trainedCellsWithDist(s, dir, k, iters, samplePct), threshold)
  }

  /** Shared SemDeDup tail: within-cell ≥-threshold pairs → pointer-
    * jumping CC → keep the member farthest from its centroid.
    */
  private def semanticFromCells(cellsD0: DataFrame,
                                threshold: Double): DataFrame = {
    // the cell frame feeds a self-join AND two downstream joins —
    // don't recompute the assignment three times
    val cellsD = cellsD0.localCheckpoint()
    val pairs = cellsD.as("a").join(cellsD.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        (Similarity.dot("a.embedding", "b.embedding") /
          (sqrt(col("a.norm")) * sqrt(col("b.norm")))).as("cosine"))
      .filter(col("cosine") >= threshold)
    val labels = clustersFromEdges(
      pairs.select(col("id1"), col("id2")))._1
      .select(col("doc_id").as("vec_id"), col("cluster_id"))
    val grouped = cellsD.join(labels, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("dist"),
        coalesce(col("cluster_id"), col("vec_id")).as("group_id"))
    val reps = grouped.groupBy("group_id").agg(
      max_by(col("vec_id"), struct(col("dist"), -col("vec_id"))).as("keep_id"),
      count(lit(1)).as("n_group"))
    grouped.join(reps, "group_id")
      .select(col("vec_id"), col("cell"), col("group_id"), col("n_group"),
        when(col("vec_id") === col("keep_id"), "kept")
          .otherwise("dropped").as("verdict"),
        col("keep_id"))
  }

  /** Line-level boilerplate removal (the CCNet/RefinedWeb line-dedup
    * pass): a line appearing in ≥ `minDf` DISTINCT documents is
    * boilerplate (cookie banners, footers, nav chrome) and is dropped
    * from every document; each document's remaining lines are rejoined
    * in their original order.
    *
    * The synthetic corpus is single-line, so the operator
    * DETERMINISTICALLY INJECTS the boilerplate first (the piiScrub
    * pattern): every even doc gets a cookie line, every 3rd a
    * newsletter line, every doc a per-source copyright footer — plain
    * doc_id/source arithmetic the oracle mirrors, giving the line-df
    * distribution real corpora have (df=1 bodies, site-wide and
    * per-source boilerplate).
    *
    * Scale shape, in two passes like CCNet's shard design:
    *  1. stats: distinct (doc, line) → groupBy(line) count. Partial
    *     aggregation collapses repeats map-side; shuffle volume is
    *     bounded by distinct lines per partition, and the result above
    *     `minDf` is SMALL BY DEFINITION — at N total lines at most
    *     N/minDf distinct lines can reach the threshold, and real
    *     boilerplate is a tiny set of high-df lines.
    *  2. scrub: the hot set rides into a pure projection
    *     (filter(lines, ...) on the split array) — ZERO shuffle, no
    *     explode/regroup of the corpus, codegen end to end. The
    *     `HotLineCap` require makes the driver-side bound explicit; a
    *     deployment whose hot set outgrew it would switch this pass to
    *     an explode → broadcast anti-join → regroup at the cost of a
    *     doc_id shuffle.
    */
  val HotLineCap = 100000

  def lineDedup(s: SparkSession, dir: String, minDf: Long = 30): DataFrame = {
    val aug = Tables.documents(s, dir)
      .select(col("doc_id"), expr(
        """filter(array(
          |  CASE WHEN doc_id % 2 = 0 THEN 'accept cookies to continue' END,
          |  text,
          |  CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter for updates' END,
          |  concat('copyright ', source)), l -> l IS NOT NULL)""".stripMargin)
        .as("lines"))
    val hot = aug.select(col("doc_id"), explode(col("lines")).as("line"))
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("line")
      .collect().map(_.getString(0)).sorted.toSeq
    require(hot.length <= HotLineCap,
      s"hot-line set ${hot.length} exceeds $HotLineCap — raise minDf or " +
        "switch the scrub pass to the broadcast anti-join form")
    val hotArr = typedlit(hot)
    aug
      .withColumn("kept", filter(col("lines"),
        l => !array_contains(hotArr, l)))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(array_join(col("kept"), "\n")).as("clean_hash"))
  }
}
