package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Par, Tables}

/** Keyword retrieval over the documents table: Okapi BM25 (Robertson &
  * Zaragoza 2009) — the lexical-search leg a data-curation stack needs
  * next to the embedding ANN operators (G.*): "find the documents about
  * X" without a vector index.
  *
  * Scale shape: term frequencies are computed INLINE on the scan
  * (array_size of a filtered split — no explode, no shuffle); the
  * corpus statistics (N, avgdl, per-term document frequencies) reduce
  * to ONE row that broadcasts back; the final top-k is a
  * TakeOrderedAndProject (per-partition heaps, no global sort). Total:
  * one scan + one single-row aggregate + one take — no shuffle at any
  * corpus size.
  *
  * Determinism contract: idf goes through ln() (libm — last-ulp risk),
  * so each term's idf is rounded to 12 decimals ONCE at the stats
  * level; everything after is IEEE arithmetic both engines perform
  * identically, and the final score is quantized to 9 decimals (the
  * trig/atan2 pattern) before ranking so the order-by key is the
  * hashed value itself.
  */
object Retrieval {

  val K1 = 1.2
  val B = 0.75
  val DefaultTerms: Seq[String] = Seq("dup", "spark", "merge")
  val DefaultK = 20

  /** The batch (multi-query) surface's default query table. */
  val DefaultQueryTable: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("dup", "spark"),
    1L -> Seq("merge", "customer", "the"),
    2L -> Seq("vector"))

  private def tfCol(term: String): Column =
    expr(s"size(filter(split(text, ' '), w -> w = '$term'))").cast("long")

  /** BM25 top-k: (doc_id, dl, score) for the `k` highest-scoring
    * documents against `terms`, score quantized to 9 decimals, ties
    * broken by doc_id. Documents matching no term (score 0) are
    * excluded.
    */
  def bm25(s: SparkSession, dir: String,
           terms: Seq[String] = DefaultTerms, k: Int = DefaultK): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be non-empty plain words")
    val d = Tables.documents(s, dir).select(
      col("doc_id") +:
        expr("size(filter(split(text, ' '), w -> w <> ''))").cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) => tfCol(t).as(s"tf$i") }: _*)
    val aggCols = sum("dl").as("sdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0L, 1L).otherwise(0L)).as(s"df$i"))
    val st = d.agg(count(lit(1)).as("n"), aggCols: _*)
    val withSt = d.crossJoin(broadcast(st))
    val avgdl = col("sdl").cast("double") / col("n").cast("double")
    def idf(i: Int): Column = round(
      log((col("n").cast("double") - col(s"df$i").cast("double") + lit(0.5))
        / (col(s"df$i").cast("double") + lit(0.5)) + lit(1.0)), 12)
    def leg(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      // (K1 + 1) as an explicit IEEE add — Scala-side constant folding
      // of 1.2 + 1.0 lands a half-ulp from DuckDB's nearest(2.2); both
      // engines must perform the same addition
      idf(i) * (tf * (lit(K1) + lit(1.0))) /
        (tf + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl").cast("double") / avgdl))
    }
    val score = terms.indices.map(leg).reduce(_ + _)
    withSt
      .select(col("doc_id"), col("dl"), round(score, 9).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  val TfidfK = 5

  /** TF-IDF top-k terms per document — the keyword-extraction /
    * relevance-feature step (smoothed idf = ln((N+1)/(df+1)) + 1, the
    * sklearn TfidfTransformer formulation): the k highest-scoring terms
    * of each document with their raw tf and 1-based rank.
    *
    * Scale shape: one shuffle total on (doc_id, term) for tf; the
    * document frequencies reduce the tf frame to a VOCABULARY-bounded
    * table that broadcasts back (the lmScore argument: Zipfian terms
    * must never be a shuffle key for corpus-sized data); the per-doc
    * top-k runs on the native TopKPerKey operator, so the rank stage
    * shuffles O(docs · k · partitions) pre-pruned rows, not every
    * (doc, term) pair.
    *
    * Determinism contract: idf is ln() (libm) — quantized to 12
    * decimals ONCE in the vocabulary table; tf × idf then runs in
    * decimal (integer × quantized — exact), so the TopKPerKey ordering
    * key is exact and ties (same score) break on the term itself. The
    * emitted score re-quantizes the exact decimal to 9 via one IEEE
    * cast both engines share.
    */
  def tfidf(s: SparkSession, dir: String, k: Int = TfidfK): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = Tables.documents(s, dir).agg(count(lit(1)).as("n"))
    val idf = round(
      log((col("n").cast("double") + lit(1.0)) / (col("df").cast("double") + lit(1.0)))
        + lit(1.0), 12).cast("decimal(28,12)")
    val vocab = dfreq.crossJoin(broadcast(n)).select(col("w"), idf.as("idf"))
    // tf fits decimal(6,0) (a doc has < 10^6 tokens); the product's
    // (35,12) stays inside decimal's 38-digit exactness — no rounding
    val scored = tf.join(broadcast(vocab), "w")
      .select(col("doc_id"), col("w"), col("tf"),
        (col("tf").cast("decimal(6,0)") * col("idf")).cast("decimal(28,12)").as("score"))
    graft.plans.TopK.perKey(scored, Seq(col("doc_id")),
      Seq(col("score").desc, col("w").asc), k)
      .select(col("doc_id"), col("w"), col("tf"),
        round(col("score").cast("double"), 9).as("score"), col("rnk"))
  }

  /** Batch BM25 — queries as DATA (the retrieval-service shape): a
    * query table (qid, term) broadcasts into the token stream, so only
    * matching occurrences survive the first join; tf/df reduce by
    * partial-agg groupBys keyed (qid, doc, term); the per-document
    * score sums the term legs IN DECIMAL (a groupBy sum of doubles is
    * order-sensitive — the fixed-term entry can sum in expression
    * order, a data-driven term set cannot); top-k per query runs
    * through the TopKPerKey operator (pruned shuffle, not a global
    * window sort). Shuffle volume is bounded by matching occurrences —
    * at 100 TB the non-matching tokens (almost all of them) never
    * leave the scan stage.
    */
  def bm25Batch(s: SparkSession, dir: String,
                queries: Seq[(Long, Seq[String])] = DefaultQueryTable,
                k: Int = 10): DataFrame = {
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty) &&
      queries.flatMap(_._2).forall(_.matches("[A-Za-z0-9_]+")),
      "queries must be non-empty plain-word term lists")
    import s.implicits._
    val qt = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("qid", "term")
    val d = Tables.documents(s, dir).select(
      col("doc_id"),
      expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("dl"), col("ws"))
    val toks = d.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
    val tf = toks.join(broadcast(qt), col("w") === col("term"))
      .groupBy("qid", "term", "doc_id")
      .agg(max("dl").as("dl"), count(lit(1)).as("tf"))
    val st = d.agg(count(lit(1)).as("n"), sum("dl").as("sdl"))
    val dft = tf.groupBy("qid", "term").agg(count(lit(1)).as("df"))
    val avgdl = col("sdl").cast("double") / col("n").cast("double")
    val idf = round(
      log((col("n").cast("double") - col("df").cast("double") + lit(0.5))
        / (col("df").cast("double") + lit(0.5)) + lit(1.0)), 12)
    val tfd = col("tf").cast("double")
    val leg = idf * (tfd * (lit(K1) + lit(1.0))) /
      (tfd + lit(K1) * (lit(1.0) - lit(B) + lit(B) * col("dl").cast("double") / avgdl))
    val scores = tf
      .join(broadcast(dft), Seq("qid", "term"))
      .crossJoin(broadcast(st))
      .select(col("qid"), col("doc_id"),
        round(leg, 12).cast("decimal(28,12)").as("leg"))
      .groupBy("qid", "doc_id")
      .agg(round(sum("leg").cast("double"), 9).as("score"))
    graft.plans.TopK.perKey(scores, Seq(col("qid")),
      Seq(col("score").desc, col("doc_id")), k)
      .select("qid", "doc_id", "rnk", "score")
  }

  // ---- Inverted index: the materialized-postings complement to the
  // scan-time BM25 legs above ----

  val SearchTerms: Seq[String] = Seq("spark", "merge", "dup")
  val SearchK = 25
  val VocabTop = 100

  /** The posting-list frame: one row per (term, doc_id) with the term
    * frequency, from the same whitespace tokenization as the BM25
    * surface.
    */
  private def postings(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))

  /** Write-once inverted-index store, range-partitioned and sorted BY
    * TERM: a term-equality query prunes to the row groups whose
    * (min_term, max_term) range covers it — the posting-list seek of a
    * search engine, expressed as parquet stats pruning. Build cost is
    * one explode + one partial-aggregable groupBy; at 100 TB the
    * Zipf-head terms are exactly the rows dictionary encoding
    * compresses best, and no stage keys a shuffle on the raw token
    * stream.
    */
  private def ensureWritten(s: SparkSession, dir: String): String =
    graft.Artifact(s, "inverted", s"$dir/documents.parquet") { out =>
      postings(s, dir)
        .repartitionByRange(graft.sources.ChunkStore.targetPartitions(
          s, s"$dir/documents.parquet"), col("term"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    }

  def indexTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureWritten(s, dir))

  /** Vocabulary head: per-term document frequency, total tf, and the
    * top posting (highest tf, ties to the lowest doc_id — packed
    * ordering key, both engines share the formula; tf < 2^31 bounds the
    * pack in a BIGINT). Top `VocabTop` terms by (df desc, term asc).
    */
  def invertedVocab(s: SparkSession, dir: String): DataFrame =
    indexTable(s, dir)
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum("tf").as("total_tf"),
        max_by(col("doc_id"), struct(col("tf"), -col("doc_id"))).as("top_doc_id"),
        max("tf").as("top_tf"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(VocabTop)

  /** Conjunctive (AND) term search through the index store: filter the
    * postings to the query terms (a pushed-down IN over the sorted term
    * column — the row-group seek), then a doc-keyed partial agg keeps
    * documents matching EVERY term, ranked by total tf. The document
    * table itself is never scanned — the 100 TB query cost is the
    * postings of the query terms, not the corpus.
    */
  def termSearch(s: SparkSession, dir: String,
                 terms: Seq[String] = SearchTerms, k: Int = SearchK): DataFrame = {
    require(terms.nonEmpty && terms.forall(_.matches("[A-Za-z0-9_]+")),
      "terms must be non-empty plain words")
    indexTable(s, dir)
      .filter(col("term").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("sum_tf"))
      .filter(col("n_terms") === terms.size)
      .select(col("doc_id"), col("sum_tf"))
      .orderBy(col("sum_tf").desc, col("doc_id").asc)
      .limit(k)
  }

  /** The phrase the driver entry searches — chosen to have matches at
    * every test SF (1 / 7 / 10 docs at sf0.001 / 0.01 / 0.1).
    */
  val PhraseTerms: Seq[String] = Seq("part", "filter", "scan")

  /** Write-once POSITIONAL posting store — (term, doc_id, pos), the
    * with-positions layout every phrase-capable search index keeps
    * (Lucene's proximity postings). Same posture as the tf index:
    * range-partitioned and sorted by term so a term-equality predicate
    * prunes to its posting row groups via parquet stats; build is one
    * posexplode projection, no shuffle keyed on the token stream.
    */
  private def ensurePosWritten(s: SparkSession, dir: String): String =
    graft.Artifact(s, "posidx", s"$dir/documents.parquet") { out =>
      Tables.documents(s, dir)
        .select(col("doc_id"),
          posexplode(expr("filter(split(text, ' '), w -> w <> '')"))
            .as(Seq("pos", "term")))
        .repartitionByRange(graft.sources.ChunkStore.targetPartitions(
          s, s"$dir/documents.parquet"), col("term"))
        .sortWithinPartitions("term", "doc_id", "pos")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
    }

  def posIndexTable(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensurePosWritten(s, dir))

  /** PHRASE search through the positional index: each phrase term's
    * postings are pruned out of the store (pushed-down equality on the
    * sorted term column), every occurrence is aligned to its would-be
    * phrase START (pos − offset), and an n-way join on (doc_id,
    * aligned start) keeps exactly the adjacent runs — the classic
    * proximity-join evaluation, no document scan, no window. Cost at
    * 100 TB is the phrase terms' posting mass: the joins shuffle on
    * (doc_id, p0) — an equi key the planner hashes — and each leg is
    * |postings(term)| rows. Output: matching docs with hit count and
    * first match position.
    */
  def phraseSearch(s: SparkSession, dir: String,
                   phrase: Seq[String] = PhraseTerms): DataFrame = {
    require(phrase.size >= 2 && phrase.forall(_.matches("[A-Za-z0-9_]+")),
      "phrase must be >= 2 plain words")
    val pos = posIndexTable(s, dir)
    val legs = phrase.zipWithIndex.map { case (t, i) =>
      pos.filter(col("term") === t)
        .select(col("doc_id"), (col("pos") - lit(i)).cast("long").as("p0"))
    }
    legs.reduce((a, b) => a.join(b, Seq("doc_id", "p0")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"), min("p0").as("first_pos"))
  }

  /** NEAR search window (max word distance) and default term pair. */
  val NearW = 3L
  val NearTerms: (String, String) = ("spark", "merge")

  /** PROXIMITY (NEAR/W) search through the positional index — the
    * second classic positional-postings query beside the exact phrase:
    * docs where the two terms occur within `w` words of each other, in
    * either order. Each term's postings are pruned out of the store
    * (pushed-down term equality), joined on doc_id, and the distance
    * filter runs as a projection — the per-doc cross of the two
    * posting lists is bounded by per-doc term frequency (≤ doc
    * length), never corpus-sized; the join itself keys on doc_id.
    * Output: (doc_id, pair count within the window, closest gap).
    */
  def nearSearch(s: SparkSession, dir: String,
                 t1: String = NearTerms._1, t2: String = NearTerms._2,
                 w: Long = NearW): DataFrame = {
    require(Seq(t1, t2).forall(_.matches("[A-Za-z0-9_]+")), "plain words")
    val pos = posIndexTable(s, dir)
    val a = pos.filter(col("term") === t1)
      .select(col("doc_id"), col("pos").cast("long").as("p1"))
    val b = pos.filter(col("term") === t2)
      .select(col("doc_id"), col("pos").cast("long").as("p2"))
    a.join(b, Seq("doc_id"))
      .filter(abs(col("p1") - col("p2")) <= w)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_near"),
        min(abs(col("p1") - col("p2"))).as("min_gap"))
  }

  /** MMR result-page size, relevance/diversity weights (λ = 0.3 in
    * tenths: mmr = 7·rel − 3·max-sim, all integer units).
    */
  val MmrK = 10
  val MmrRelW = 7L
  val MmrSimW = 3L

  /** MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell & Goldstein
    * 1998) — the diversity pass a RAG serving stack runs over its
    * retrieval page: greedily pick the candidate maximizing
    * relW·rel − simW·max_sim(candidate, already-picked), so
    * near-duplicate hits stop crowding the page. Exact-integer
    * contract: rel_q = bm25 score (already 9-decimal-quantized)
    * ×10⁹ as BIGINT; pairwise sim_q = tf-idf cosine (the
    * doc_tfidf_knn micro-unit discipline: integer weights,
    * decimal(38,0) dots/norms, one double sqrt-division quantized at
    * 9) ×10⁹ as BIGINT — every MMR comparison is a BIGINT compare,
    * ties to the lower doc_id, so the greedy trajectory is
    * bit-identical cross-engine and the oracle can unroll it (one CTE
    * per pick, the trainer-argmax pattern).
    *
    * Scale shape: the candidate pool is a RESULT PAGE (top-20) by
    * definition of the operator — pool relevance and the pool×pool
    * similarity matrix are computed in-engine (the global-vocabulary
    * idf is the corpus-sized part: one (doc,term) shuffle + a
    * vocabulary-bounded broadcast, the doc_tfidf plan), and only the
    * page-sized score rows (≤ 20 rel + 190 sims) reach the driver for
    * the k-step greedy loop — the same driver-holds-the-model posture
    * as the tokenizer trainers.
    */
  def mmr(s: SparkSession, dir: String, k: Int = MmrK): DataFrame = {
    import s.implicits._
    val pool = bm25(s, dir)
      .select(col("doc_id"),
        expr("CAST(round(score * 1e9) AS BIGINT)").as("rel_q"))
    val poolIds = broadcast(pool.select("doc_id"))
    // plain scan, not the spread: the tf/vec chain is multi-consumer
    // (norms + both dot-join sides), the pattern where the spread's
    // per-copy exchange measured as a loss (see OPTIMIZATION_r18.md §6)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val n = Tables.documents(s, dir).count()
    val vocab = tf.groupBy("w").agg(count(lit(1)).as("df"))
      .withColumn("idf", expr(
        s"CAST(round(ln(($n + 1.0) / (df + 1.0)) + 1.0, 12) AS DECIMAL(28,12))"))
      .select("w", "idf")
    val vec = tf.join(poolIds, "doc_id").join(broadcast(vocab), "w")
      .withColumn("wq", expr(
        "CAST(round(CAST(tf AS DECIMAL(6,0)) * idf * 1000000, 0) AS BIGINT)"))
      .select("doc_id", "w", "wq")
    val norms = vec.groupBy("doc_id")
      .agg(sum(expr("CAST(wq AS DECIMAL(19,0)) * CAST(wq AS DECIMAL(19,0))"))
        .as("nn"))
    val va = vec.select(col("doc_id").as("a"), col("w"), col("wq").as("wa"))
    val vb = vec.select(col("doc_id").as("b"), col("w"), col("wq").as("wb"))
    val sims = va.join(vb, Seq("w")).filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(expr("CAST(wa AS DECIMAL(19,0)) * CAST(wb AS DECIMAL(19,0))"))
        .as("dot"))
      .join(norms.select(col("doc_id").as("a"), col("nn").as("na")), Seq("a"))
      .join(norms.select(col("doc_id").as("b"), col("nn").as("nb")), Seq("b"))
      .select(col("a"), col("b"), expr(
        "CAST(round(round(CAST(dot AS DOUBLE) / " +
          "(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))), 9) * 1e9) " +
          "AS BIGINT)").as("sim_q"))
    // result-page-sized collects: <= pool rel rows + pool^2/2 sim rows.
    // The two collect jobs are independent — run them concurrently
    // (optimization r18, guide §2.6) instead of back to back.
    val (rel, simMap) = Par.both(s)(
      pool.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
      sims.collect().flatMap { r =>
        val (a, b, sq) = (r.getLong(0), r.getLong(1), r.getLong(2))
        Seq((a, b) -> sq, (b, a) -> sq)
      }.toMap)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Long, Long)]
    var cands = rel.keySet
    var rnk = 1
    while (rnk <= k && cands.nonEmpty) {
      val scored = cands.map { d =>
        val ms = picked.map(p => simMap.getOrElse((d, p._2), 0L))
          .foldLeft(0L)(math.max)
        (d, MmrRelW * rel(d) - MmrSimW * ms)
      }
      val (d, mq) = scored.minBy { case (id, q) => (-q, id) }
      picked += ((rnk, d, rel(d), mq))
      cands -= d
      rnk += 1
    }
    picked.toSeq.toDF("rnk", "doc_id", "rel_q", "mmr_q")
      .select(col("rnk").cast("int").as("rnk"), col("doc_id"),
        col("rel_q"), col("mmr_q"))
  }

  /** HYBRID retrieval — Reciprocal Rank Fusion (Cormack et al. 2009,
    * the standard lexical+dense combiner) of the BM25 service leg and
    * the dense ANN leg: score(d) = Σ_legs ⌊SCALE/(K + rank_leg(d))⌋.
    * Fusing RANKS (not scores) needs no cross-leg calibration, and the
    * floor-div integer contributions make the fusion bit-exact — the
    * oracle composes the two legs' own proven SQL and replays the
    * arithmetic. Queries present in only one leg (dense-only qids here)
    * fuse that leg alone, as RRF defines. Per-leg cost is the leg's
    * own (both already scale-shaped); the fusion adds one
    * (qid, doc)-keyed partial agg and a TopKPerKey — no new scan.
    * vec_id is the document's embedding id (the tables share the id
    * space by construction).
    */
  val RrfK = 60L
  val RrfScale = 1000000000L

  def hybridSearch(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val contrib = expr(s"$RrfScale div ($RrfK + rnk)")
    val lex = bm25Batch(s, dir)
      .select(col("qid"), col("doc_id"), contrib.as("c"))
    val dense = Similarity.bruteForce(s, dir)
      .select(col("qid"), col("vec_id").as("doc_id"), contrib.as("c"))
    val fused = lex.unionAll(dense)
      .groupBy("qid", "doc_id")
      .agg(sum("c").as("rrf_score"), count(lit(1)).as("n_legs"))
    graft.plans.TopK.perKey(fused, Seq(col("qid")),
      Seq(col("rrf_score").desc, col("doc_id")), k)
  }

  /** Salient terms forming tfidfKnn's CANOPY BLOCK KEY: each doc is
    * assigned to exactly one block keyed by its sorted top-T tf-idf
    * terms (the sparse analogue of an IVF cell assignment — stricter
    * than Bayardo prefix filtering, which joins on ANY shared salient
    * term and degenerates to near-all-pairs on a small vocabulary).
    * T=2 keys ~|V|²/2 blocks: measured at sf0.1 (5000 docs, 31-word
    * vocabulary) it cuts candidate pairs 456k → ~25k while still
    * pairing docs whose dominant topic terms agree.
    */
  val KnnSalientT = 2
  /** Neighbors per document tfidfKnn emits. */
  val KnnK = 5
  /** Block-size cap the `_capped` KNN entry pins: blocks holding more
    * than this many docs are dropped before candidate generation (at
    * sf0.01 this drops the 8 largest of ~290 blocks — the oracle hash
    * proves the cap path, not a no-op).
    */
  val KnnMaxBlock = 4L

  /** Document-to-document similarity: top-k nearest neighbors per doc
    * by TF-IDF cosine — the sparse-vector sibling of the dense ANN
    * family (dedup candidates, near-dup clustering, related-docs
    * serving all start here).
    *
    * Scale shape — inverted-index candidate generation with
    * SALIENT-TERM blocking (the classic prefix-filtering idea from
    * all-pairs similarity search, Bayardo et al. 2007): only each
    * doc's top-`KnnSalientT` tf-idf terms enter the candidate
    * self-join, so the pair space is bounded by salient-posting-list
    * sizes instead of O(N²); full vectors then score only surviving
    * pairs through doc-keyed hash joins. The all-pairs exact variant
    * is one knob away (salientT = ∞) but is the
    * BroadcastNestedLoop-shaped baseline you don't run at 100 TB.
    *
    * Determinism: weights are integer MICRO-UNITS (the exact decimal
    * tf·idf scaled by 10⁶ and rounded — both engines round decimal
    * HALF_UP), dot products and norms sum in decimal(38,0) (exact),
    * and the one double step (sqrt · sqrt division) quantizes to 9
    * before ranking; ties break on the neighbor id.
    *
    * `maxBlock` is the hot-key lever (the doc_contamination_capped
    * precedent applied to blocking): a block key shared by B docs
    * yields B²/2 candidate pairs, and nothing bounds B — a corpus
    * where many documents share the same two dominant terms (template
    * pages, one-topic crawls) squares that block. Blocks larger than
    * `maxBlock` docs are dropped before candidate generation: a block
    * key that groups half the corpus is a stop-topic, not a similarity
    * signal (its members still appear as NEIGHBORS of docs in
    * surviving blocks — only pair GENERATION from the hot block is
    * cut). 0 (the default, what the uncapped oracle pins) keeps every
    * block.
    */
  def tfidfKnn(s: SparkSession, dir: String,
               salientT: Int = KnnSalientT, k: Int = KnnK,
               maxBlock: Long = 0L): DataFrame = {
    // COLLAPSE-FIRST (the round-8 soak lesson, mandatory for every
    // pair-generating operator): KNN runs over DISTINCT contents from
    // the shared exact-dedup store — identity is the representative
    // doc (min doc_id per content). Duplicated corpora otherwise grow
    // the canopy pair count quadratically in copy multiplicity, and
    // similarity over exact copies is wasted compute the dedup family
    // already resolves.
    val c = graft.pipeline.Dedup.collapsed(s, dir)
      .select(col("cid").as("doc_id"), col("text"))
    val toks = c
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val tf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = c.agg(count(lit(1)).as("n"))
    val idf = round(
      log((col("n").cast("double") + lit(1.0)) / (col("df").cast("double") + lit(1.0)))
        + lit(1.0), 12).cast("decimal(28,12)")
    val vocab = dfreq.crossJoin(broadcast(n)).select(col("w"), idf.as("idf"))
    // the sparse index feeds four joins (salient terms, both dot-join
    // sides, norms) — materialize it once, like any served index
    val vec = tf.join(broadcast(vocab), "w")
      .select(col("doc_id"), col("w"),
        round(col("tf").cast("decimal(6,0)") * col("idf") * lit(1000000L), 0)
          .cast("bigint").as("wq"))
      .localCheckpoint()
    val blkAll = graft.plans.TopK.perKey(vec, Seq(col("doc_id")),
      Seq(col("wq").desc, col("w").asc), salientT)
      .groupBy("doc_id")
      .agg(concat_ws(" ", array_sort(collect_list(col("w")))).as("bk"))
    val blk =
      if (maxBlock <= 0L) blkAll
      else {
        // per-block doc count in one partial-agg pass; the cap is a
        // semi-join on the surviving (small) block-key set
        val keep = blkAll.groupBy("bk").agg(count(lit(1)).as("n"))
          .filter(col("n") <= maxBlock).select("bk")
        blkAll.join(keep, Seq("bk"), "left_semi")
      }
    // one block key per doc → pairs are already unique, no distinct
    val cand = blk.select(col("doc_id").as("a"), col("bk"))
      .join(blk.select(col("doc_id").as("b"), col("bk")), "bk")
      .filter(col("a") < col("b"))
      .select("a", "b")
    val sq = (col("wq").cast("decimal(19,0)") * col("wq").cast("decimal(19,0)"))
      .cast("decimal(38,0)")
    val norms = vec.groupBy("doc_id").agg(sum(sq).as("nn"))
    val dots = cand
      .join(vec.select(col("doc_id").as("a"), col("w"), col("wq").as("qa")), Seq("a"))
      .join(vec.select(col("doc_id").as("b"), col("w"), col("wq").as("qb")), Seq("b", "w"))
      .groupBy("a", "b")
      .agg(sum((col("qa").cast("decimal(19,0)") * col("qb").cast("decimal(19,0)"))
        .cast("decimal(38,0)")).as("dot"))
    val scored = dots
      .join(norms.select(col("doc_id").as("a"), col("nn").as("na")), "a")
      .join(norms.select(col("doc_id").as("b"), col("nn").as("nb")), "b")
      .select(col("a"), col("b"),
        round(col("dot").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))), 9)
          .as("cos_sim"))
    val mirrored = scored.select(col("a").as("doc_id"), col("b").as("nbr_id"), col("cos_sim"))
      .unionAll(scored.select(col("b").as("doc_id"), col("a").as("nbr_id"), col("cos_sim")))
    graft.plans.TopK.perKey(mirrored, Seq(col("doc_id")),
      Seq(col("cos_sim").desc, col("nbr_id").asc), k)
  }
}
