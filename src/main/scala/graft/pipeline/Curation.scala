package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Memo, Par, Tables}

/** Corpus-curation operators: the last-mile steps between a cleaned
  * corpus and a training run — eval-set decontamination and sequence
  * packing. Both are built on the deterministic hash split
  * ([[TextAnalysis.sampleSplit]]) so the whole chain is stable across
  * engines, runs, and partitionings.
  */
object Curation {

  /** Train/eval contamination: train documents sharing at least one
    * word-3-gram shingle with any val/test document — the n-gram
    * overlap decontamination every benchmark-hygienic pipeline runs
    * before training (the same shingle family the near-dup operators
    * use). Output per contaminated train doc: how many distinct eval
    * shingles it shares and how many eval docs it touches.
    *
    * COLLAPSE-FIRST, like the whole near-dup family: both counts are
    * functions of the document's CONTENT, so the shingle join runs over
    * distinct texts and the result expands back to train docs at the
    * end. On duplicate-heavy corpora the doc-level join squares copy
    * multiplicity (measured: 43.9s at the 20x soak, where every text
    * has 20 copies and the hash split scatters them across both sides);
    * the content-level pair set is bounded by distinct texts. The
    * per-content eval-doc counts ride the join, so the output is
    * row-identical to the doc-level formulation — the DuckDB oracle IS
    * the doc-level form, and the hash match proves the collapse exact.
    * Duplicate texts straddling the split show up for what they are:
    * every train copy of an eval text is flagged with that text's full
    * shingle set (split leakage via duplication, the classic
    * decontamination finding).
    *
    * `maxShingleFreq` is the hot-key lever: shingles present in more
    * than that many DISTINCT contents are dropped before the join —
    * ubiquitous n-grams carry no contamination signal (they match
    * everything) but make the joint key distribution quadratic in
    * their frequency. 0 (the default, what the oracle pins) keeps
    * every shingle.
    */
  def contamination(s: SparkSession, dir: String,
                    maxShingleFreq: Long = 0L): DataFrame = {
    // split is a pure function of doc_id (sampleSplit's projection) —
    // project it on the scan instead of self-joining documents back on
    // (optimization r18, guide §2.4: one scan + one join less)
    val docs = Tables.documents(s, dir)
      .select(unhex(md5(col("text"))).as("chash"), col("doc_id"),
        TextAnalysis.splitOfBucket(
          TextAnalysis.splitBucketCol(col("doc_id"))).as("split"))
    // Spark plans no common-subexpression sharing, so the r17 form
    // re-evaluated the shingle pipeline once per consumer — trainSh +
    // evalSh, each under both pair aggregates: FOUR explode+md5 passes,
    // 28 scan copies in the plan (plans/r18/doc_contamination_before).
    // The two shared frames are narrow (hash keys + counts, never
    // text), so they are MATERIALIZED once, on concurrent driver
    // threads (guide §2.4 + §2.6); keys are 16-byte unhex(md5) binary,
    // not the 32-char hex string — same identities, a third of the
    // shuffle bytes (guide §2.3).
    // per-content membership: train docs carry the output rows, eval
    // docs weight the n_eval_docs sum
    val (perContent, shC) = Par.both(s)(
      docs.groupBy("chash").agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") =!= "train", 1L).otherwise(0L)).as("n_eval"))
        .localCheckpoint(),
      {
        val contents = Tables.documents(s, dir)
          .groupBy(unhex(md5(col("text"))).as("chash"))
          .agg(min("text").as("text"))
        val shAll = contents
          .select(col("chash"),
            expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
          .select(col("chash"), explode(Dedup.shinglesOf("ws")).as("sh"))
          .select(col("chash"), unhex(md5(col("sh"))).as("h"))
          .distinct()
        (if (maxShingleFreq <= 0L) shAll
         else {
           // per-shingle content frequency as ONE window over the same
           // pass (the groupBy + semi-join-back form re-ran the shingle
           // explode twice inside this job)
           val wf = org.apache.spark.sql.expressions.Window.partitionBy("h")
           shAll.withColumn("__f", count(lit(1)).over(wf))
             .filter(col("__f") <= maxShingleFreq).drop("__f")
         }).localCheckpoint()
      })
    val trainSh = shC.join(
      perContent.filter(col("n_train") > 0L).select("chash"), "chash")
    val evalSh = shC.join(
      perContent.filter(col("n_eval") > 0L)
        .select(col("chash").as("echash"), col("n_eval")), // ride the count
      col("chash") === col("echash"))
      .select(col("echash"), col("n_eval"), col("h"))
    // content-level pairs (includes chash == echash: the same text on
    // both sides of the split IS contamination); rows are distinct on
    // (chash, h, echash) by construction, so BOTH aggregates come out
    // of ONE pass — distinct shingles as a set size, the eval-doc
    // weight folded over the distinct matched-content set (the r17
    // form's two pair consumers each re-ran the join)
    val pairs = trainSh.join(evalSh, "h")
    val aggregated = pairs.groupBy("chash").agg(
      size(collect_set(col("h"))).cast("long").as("n_shared_shingles"),
      aggregate(collect_set(struct(col("echash"), col("n_eval"))),
        lit(0L), (acc, x) => acc + x.getField("n_eval")).as("n_eval_docs"))
    // expand once, at the end: every train doc of a contaminated
    // content gets its content's counts
    aggregated
      .join(docs.filter(col("split") === "train").select("chash", "doc_id"), "chash")
      .select("doc_id", "n_shared_shingles", "n_eval_docs")
  }

  /** Corpus-mixing weights for [[stratifiedSample]]: per-source keep
    * percentages, with a default for unlisted sources — the "web 25%,
    * curated 100%" dial every pretraining mix needs.
    */
  val DefaultMixWeights: Map[String, Int] =
    Map("src0" -> 100, "src1" -> 80, "src2" -> 50)
  val DefaultMixOther = 25

  /** Stratified (per-source) deterministic sampling: each document's
    * keep/drop is a pure function of (doc_id, its source's rate) — the
    * hash bucket is SALTED ('mix:' prefix) so mix membership is
    * independent of the train/val/test split buckets
    * ([[TextAnalysis.sampleSplit]] — same doc_id hashed unsalted).
    * Sampling-as-filter: `sampled` is a column, no rand(), no
    * row_number over implicit order (both nondeterministic under
    * repartitioning); growing a source never reshuffles which existing
    * docs are kept. Pure projection — zero shuffle at any corpus size.
    */
  def stratifiedSample(s: SparkSession, dir: String,
                       weights: Map[String, Int] = DefaultMixWeights,
                       otherPct: Int = DefaultMixOther): DataFrame = {
    require((weights.values ++ Seq(otherPct)).forall(p => p >= 0 && p <= 100),
      "percentages must be in [0, 100]")
    val bucket =
      (conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
        .cast("long") % 100L).as("bucket")
    val rate = weights.toSeq.sortBy(_._1)
      .foldRight(lit(otherPct.toLong)) { case ((src, pct), rest) =>
        when(col("source") === src, lit(pct.toLong)).otherwise(rest)
      }
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), bucket, rate.as("rate"))
      .withColumn("sampled", col("bucket") < col("rate"))
  }

  /** Mixture SOLVER — the planning step [[stratifiedSample]] assumes
    * has already happened: given per-source mixture weights and a
    * corpus-wide token budget, DERIVE each source's sampling rate from
    * the data (target_tokens = budget·w/Σw capped by availability,
    * rate = target/available in basis points) and select docs at that
    * rate with the salted sampling-as-filter bucket. This is the data-
    * mixing arithmetic every pretraining run does before sampling
    * (weights here a deterministic function of the source index — the
    * knob a real run replaces with its mixture config).
    *
    * ALL-INTEGER: token sums, floor-div targets and bps rates — the
    * oracle replays the arithmetic exactly. One partial-agg groupBy on
    * source + two broadcast scalars; the selection is a projection.
    */
  val DefaultMixBudgetDen = 4L

  def mixtureSolve(s: SparkSession, dir: String,
                   budgetDen: Long = DefaultMixBudgetDen): DataFrame = {
    require(budgetDen >= 1L, "budget denominator must be positive")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      expr("size(filter(split(text, ' '), w -> w <> ''))").cast("long")
        .as("n_tokens"),
      (conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 4), 16, 10)
        .cast("long") % 10000L).as("bucket"))
    val bySrc = docs.groupBy("source").agg(sum("n_tokens").as("avail"))
      .withColumn("w",
        (substring(col("source"), 4, 10).cast("long") % 3L) + 1L)
    val tot = bySrc.agg(sum("avail").as("tot_avail"), sum("w").as("tot_w"))
    val rates = bySrc.crossJoin(broadcast(tot))
      .select(col("source"), col("avail"), col("w"),
        expr(s"((tot_avail div $budgetDen) * w) div tot_w").as("target_tokens"))
      .withColumn("rate_bps",
        least(lit(10000L), expr("(10000 * target_tokens) div avail")))
    docs.join(
        broadcast(rates.select("source", "avail", "target_tokens", "rate_bps")),
        "source")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("avail"),
        col("target_tokens"), col("rate_bps"),
        (col("bucket") < col("rate_bps")).as("sampled"))
  }

  /** Unigram-LM quality score — the CCNet/KenLM-style "how typical of
    * the corpus is this document" filter (Wenzek et al. 2020), with the
    * corpus itself as the LM: per-word log-probability ln(c(w)/T) from
    * the global word counts, averaged per document. Low scores flag
    * out-of-distribution junk; suspiciously high scores flag
    * boilerplate (every word ubiquitous).
    *
    * Scale shape: the vocabulary table (word → count) is
    * vocabulary-bounded, not corpus-bounded, so it BROADCASTS — the
    * per-occurrence join never shuffles document data by word (word
    * frequencies are Zipfian, so a shuffle join on the word would put
    * the whole corpus' "the" occurrences on one reducer). The only
    * shuffle is the groupBy(doc_id) re-aggregation.
    *
    * Determinism contract: ln() is libm territory (last-ulp divergence,
    * the q_promql_trig finding), so each word's log-prob is quantized
    * to 12 decimals ONCE — in the vocabulary table, not per occurrence
    * — and the per-doc sum runs in decimal (exact, order-independent);
    * the mean is a single IEEE division both engines perform
    * identically.
    */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    // plain scan, not the spread: lmScore alone measured flat under the
    // spread and doc_filter (which joins three lmScore-adjacent per-doc
    // frames) measured 1.4x WORSE with the extra exchange inside this
    // leg (mid-round full bench, plans/r18/BENCH_mid_detail.json)
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val counts = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("t"))
    val lp = counts.crossJoin(broadcast(total))
      .select(col("w"),
        round(log(col("c").cast("double") / col("t").cast("double")), 12)
          .cast("decimal(28,12)").as("lp"))
    val perDoc = toks.join(broadcast(lp), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("lp").as("slp"))
    // empty docs have no occurrences: keep them with a defined 0 score
    Tables.documents(s, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens").isNull, lit(0.0))
          .otherwise(col("slp").cast("double") / col("n_tokens").cast("double"))
          .as("mean_logprob"))
  }

  /** Bigram LM with STUPID BACKOFF (Brants et al. 2007 — the LM the
    * big-data era actually ships: no discounting to tune, just
    * α-scaled unigram fallback) scored on a held-out split: the 80%
    * md5-bucket side trains the counts, every doc is scored, and the
    * 20% held-out docs genuinely exercise the backoff path (scoring
    * the training corpus against itself never backs off — every
    * observed bigram is in its own counts).
    *
    * α = 1/2 deliberately: ln(1/2) = −ln 2 keeps EVERY log in the
    * integer-ln contract (ln of c12, prefix c1, unigram cu, total T —
    * all positive integers, each quantized at 12 and combined in exact
    * decimal), stricter than lmScore's ratio-log. Count tables are
    * vocabulary-bounded (bigram vocab is Zipf-bounded) and broadcast
    * like lmScore's; a corpus whose bigram table outgrows broadcast
    * switches the occurrence joins to shuffle joins keyed by the
    * (uniformly Zipf-spread) bigram.
    */
  val LmBackoffTrainPct = 80L

  /** The shared LM training pass (optimization r18): every train-side
    * token position as (w1 = the token, w2 = its successor or NULL at
    * doc end), aggregated to counts and checkpointed once. Bigram
    * counts are the w2-NOT-NULL slice; unigram occurrence counts are
    * Σc per w1 (each position counted exactly once); the train
    * vocabulary is distinct w1. Vocab-bounded (the tables broadcast
    * downstream), so the checkpoint is model-sized, never corpus-sized.
    */
  private def trainPairCounts(base: DataFrame): DataFrame =
    base.filter(col("in_train"))
      .select(explode(expr(
        """CASE WHEN size(ws) >= 1
          |THEN transform(sequence(0, size(ws) - 1),
          |  i -> struct(ws[i] AS w1,
          |    CASE WHEN i < size(ws) - 1 THEN ws[i + 1] END AS w2))
          |ELSE array() END""".stripMargin)).as("p"))
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()

  def lmBigram(s: SparkSession, dir: String,
               trainPct: Long = LmBackoffTrainPct): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct must split both ways")
    def qln(c: Column): Column =
      round(log(c.cast("double")), 12).cast("decimal(28,12)")
    val lnHalf = round(log(lit(2.0)), 12).cast("decimal(28,12)")
    val base = Tables.documentsSpread(s, dir).select(col("doc_id"),
      ((conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100L) < trainPct).as("in_train"),
      expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
    val bg = base.select(col("doc_id"), col("in_train"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |THEN transform(sequence(0, size(ws) - 2),
          |  i -> struct(ws[i] AS w1, ws[i+1] AS w2))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("in_train"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // ONE training-corpus text pass builds EVERY count table
    // (optimization r18, guide §2.3/§2.4): the position-pair frame —
    // each token paired with its successor, doc-final tokens with NULL —
    // aggregates to (w1, w2?, c), and c12 (bigram counts) and cu
    // (unigram occurrence counts = Σc over w1) are both projections of
    // that one vocab-bounded checkpoint. The r18.1 form still ran TWO
    // corpus explodes (bigram + unigram) on concurrent threads; the
    // fused pass halves the training-side CPU and needs no threads.
    val pc = trainPairCounts(base)
    val c12 = pc.filter(col("w2").isNotNull).select("w1", "w2", "c")
      .withColumnRenamed("c", "c12")
    val cu = pc.groupBy("w1").agg(sum("c").as("cu"))
      .withColumnRenamed("w1", "w")
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1")) // prefix counts
    val tot = cu.agg(sum("cu").as("t"))
    val lp = when(col("c12").isNotNull, qln(col("c12")) - qln(col("c1")))
      .when(col("cu").isNotNull, qln(col("cu")) - qln(col("t")) - lnHalf)
      .otherwise((lit(0L).cast("decimal(28,12)") - qln(col("t"))) - lnHalf)
      .cast("decimal(28,12)")
    val perDoc = bg
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(cu.withColumnRenamed("w", "w2")), Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(lp).as("slp"))
    base.select(col("doc_id"), col("in_train"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("in_train"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(0.0))
          .otherwise(col("slp").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_lp"))
  }

  /** Interpolated KNESER-NEY bigram LM (Kneser & Ney 1995; Chen &
    * Goodman 1999's interpolated form) — the smoothing production
    * n-gram LMs (KenLM) actually ship, next to [[lmBigram]]'s stupid
    * backoff: the backoff distribution is the CONTINUATION probability
    * (how many distinct histories precede w?), not the raw unigram —
    * "Francisco" is frequent but only ever follows "San", so its
    * continuation mass is tiny.
    *
    * EXACT-RATIONAL formulation, the property that makes KN
    * oracle-hashable: with discount D = 3/4 and an add-one-smoothed
    * continuation distribution Pc(w2) = (N1b(w2)+1)/(Nt+V),
    *
    *   P(w2|w1) = (max(c12 − D, 0) + D·N1f(w1)·Pc(w2)) / c1(w1)
    *            = [ max(4·c12 − 3, 0)·(Nt+V) + 3·N1f(w1)·(N1b(w2)+1) ]
    *              / [ 4·c1(w1) · (Nt+V) ]
    *
    * — numerator and both denominator factors are positive INTEGERS,
    * so every log is an integer-ln (the lmBigram strict contract):
    * lp = qln(num) − qln(4·c1) − qln(Nt+V), quantized at 12, summed in
    * exact decimal. Unseen history (c1 undefined) scores the smoothed
    * continuation alone: qln(N1b+1) − qln(Nt+V). The add-one on the
    * continuation counts is what keeps the numerator positive for
    * words never seen as a continuation (N1b = 0) — the OOV floor
    * plain KN lacks at the bigram level.
    *
    * Same held-out split and scale shape as [[lmBigram]]: all four
    * count tables are vocabulary-bounded and broadcast (never a
    * shuffle join on Zipf-skewed words); type totals are a one-row
    * broadcast; the only corpus-sized shuffle is the per-doc
    * re-aggregation. N1f/N1b/Nt are counts over the c12 TABLE (types,
    * not occurrences) — partial aggs over an already-reduced frame.
    */
  def lmKneserNey(s: SparkSession, dir: String,
                  trainPct: Long = LmBackoffTrainPct): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct must split both ways")
    def qln(c: Column): Column =
      round(log(c.cast("double")), 12).cast("decimal(28,12)")
    val base = Tables.documentsSpread(s, dir).select(col("doc_id"),
      ((conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100L) < trainPct).as("in_train"),
      expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
    val bg = base.select(col("doc_id"), col("in_train"), explode(expr(
        """CASE WHEN size(ws) >= 2
          |THEN transform(sequence(0, size(ws) - 2),
          |  i -> struct(ws[i] AS w1, ws[i+1] AS w2))
          |ELSE array() END""".stripMargin)).as("b"))
      .select(col("doc_id"), col("in_train"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))
    // ONE training-corpus text pass (optimization r18, guide §2.3/§2.4):
    // all five aggregates (c12, c1/n1f, n1b, nt, the vocabulary V) are
    // projections of the shared position-pair checkpoint — the r18.1
    // form ran the corpus bigram explode for the c12 checkpoint AND a
    // second word explode for V inside the final DAG
    val pc = trainPairCounts(base)
    val c12 = pc.filter(col("w2").isNotNull).select("w1", "w2", "c")
      .withColumnRenamed("c", "c12")
    // per-history: prefix occurrences AND distinct-continuation count
    val c1 = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1f"))
    // per-word: distinct-history count (the continuation numerator)
    val n1b = c12.groupBy("w2").agg(count(lit(1)).as("n1b"))
    // bigram type total + train vocabulary size (+1 OOV slot)
    val nt = c12.agg(count(lit(1)).as("nt"))
    val v = pc.agg(countDistinct("w1").as("v"))
    val ntv = nt.crossJoin(v)
      .select((col("nt") + col("v") + lit(1L)).as("ntv"))
    val num = greatest(lit(4L) * coalesce(col("c12"), lit(0L)) - lit(3L), lit(0L)) *
      col("ntv") +
      lit(3L) * col("n1f") * (coalesce(col("n1b"), lit(0L)) + lit(1L))
    val lp = when(col("c1").isNotNull,
        qln(num) - qln(lit(4L) * col("c1")) - qln(col("ntv")))
      .otherwise(qln(coalesce(col("n1b"), lit(0L)) + lit(1L)) - qln(col("ntv")))
      .cast("decimal(28,12)")
    val perDoc = bg
      .join(broadcast(c12), Seq("w1", "w2"), "left")
      .join(broadcast(c1), Seq("w1"), "left")
      .join(broadcast(n1b), Seq("w2"), "left")
      .crossJoin(broadcast(ntv))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(lp).as("slp"))
    base.select(col("doc_id"), col("in_train"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("in_train"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(col("n_bigrams").isNull, lit(0.0))
          .otherwise(col("slp").cast("double") / col("n_bigrams").cast("double"))
          .as("mean_kn"))
  }

  /** Hashed-feature linear quality classifier — the fastText-shaped
    * fast-filter (Joulin et al. 2017: a linear model over hashed
    * bag-of-words is the standard cheap quality/LID classifier in
    * pretraining pipelines, cf. CCNet): every token hashes into one of
    * [[ClfBuckets]] feature buckets, the model is a dense weight per
    * bucket, and the document score is the mean bucket weight over its
    * tokens. The weights here are a deterministic integer surrogate
    * (multiplicative-hash spread over ±1000) standing in for trained
    * parameters — the SERVING path is what this operator exercises:
    * at 100 TB the model rides the closure as ~1 KB of constants and
    * scoring is one inline array fold per document. NO explode, NO
    * shuffle, no vocabulary table — the classifier never leaves the
    * scan stage (vs lmScore's corpus-dependent vocabulary broadcast).
    *
    * Determinism contract: hash → bucket → weight → sum is all-integer
    * (md5 nibbles, multiplicative spread mod 2001); the per-token mean
    * is one exact-integer ratio lowered to double at the output edge.
    */
  val ClfBuckets = 256

  def qualityClf(s: SparkSession, dir: String): DataFrame = {
    // weight(b) = ((b * 2654435761) mod 2001) - 1000 — Knuth's
    // multiplicative hash spreads the 256 buckets over [-1000, 1000]
    // conv() returns STRING — cast before the modular arithmetic or
    // Spark coerces the whole chain to double
    val wgt = s"(((cast(conv(substring(md5(w), 1, 4), 16, 10) as bigint)" +
      s" % $ClfBuckets) * 2654435761) % 2001) - 1000"
    val scored = Tables.documents(s, dir).select(
      col("doc_id"),
      expr("size(filter(split(text, ' '), w -> w <> ''))").cast("long").as("n_tokens"),
      expr(s"aggregate(transform(filter(split(text, ' '), w -> w <> ''), " +
        s"w -> $wgt), 0L, (acc, x) -> acc + x)").cast("long").as("clf_score"))
    scored.select(col("doc_id"), col("n_tokens"), col("clf_score"),
      (col("clf_score").cast("double") /
        greatest(col("n_tokens"), lit(1L)).cast("double")).as("score_per_tok"))
      .withColumn("verdict",
        when(col("score_per_tok") >= 0.0, "keep").otherwise("drop"))
  }

  /** The end-to-end curation VERDICT — what a production pipeline
    * actually materializes before training: every quality signal
    * joined per document and lowered to one keep/drop decision with
    * the failing rule visible. Rules (all deterministic, thresholds as
    * parameters): Gopher repetition caps (duplicate-word and top-word
    * fractions), the composite quality score floor, and the unigram-LM
    * corpus-typicality floor. Each input is a per-doc frame keyed by
    * doc_id, so the joins are plain equi-joins on the primary key —
    * one shuffle key end to end, no skew.
    */
  val DefaultMinQuality = 0.5
  val DefaultMaxDupWordFrac = 0.3
  val DefaultMaxTopWordFrac = 0.2
  val DefaultMinMeanLogprob = -4.0

  def filterVerdict(s: SparkSession, dir: String,
                    minQuality: Double = DefaultMinQuality,
                    maxDupWordFrac: Double = DefaultMaxDupWordFrac,
                    maxTopWordFrac: Double = DefaultMaxTopWordFrac,
                    minMeanLogprob: Double = DefaultMinMeanLogprob): DataFrame = {
    val q = TextAnalysis.quality(s, dir).select(col("doc_id"), col("score"))
    val r = TextAnalysis.repetition(s, dir)
      .select(col("doc_id"), col("dup_word_frac"), col("top_word_frac"))
    val l = lmScore(s, dir).select(col("doc_id"), col("mean_logprob"))
    q.join(r, "doc_id").join(l, "doc_id")
      .select(col("doc_id"), col("score"), col("dup_word_frac"),
        col("top_word_frac"), col("mean_logprob"),
        (col("score") >= minQuality).as("pass_quality"),
        (col("dup_word_frac") <= maxDupWordFrac).as("pass_dup"),
        (col("top_word_frac") <= maxTopWordFrac).as("pass_top"),
        (col("mean_logprob") >= minMeanLogprob).as("pass_lm"))
      .withColumn("keep",
        col("pass_quality") && col("pass_dup") && col("pass_top") && col("pass_lm"))
  }

  /** Sequence packing: assign every document a (pack_id, pack_offset)
    * in a fixed token budget per pack — the packing step that turns a
    * corpus into fixed-length training sequences. Deterministic global
    * token order = doc_id order.
    *
    * Scale shape — a DISTRIBUTED PREFIX SUM, not a global window: a
    * single `sum over (order by doc_id)` collapses to one partition at
    * 100 TB. Instead docs are range-sharded (`doc_id div shardSize`,
    * monotonic in doc_id so shard-then-id order IS global id order),
    * the running sum is computed per shard in parallel, and the
    * per-shard totals (corpus/shardSize rows — tiny) get a driver-side
    * prefix via a broadcast join. The sequential formulation in the
    * DuckDB oracle must agree row-for-row — that equality is the proof
    * the two-level decomposition is exact.
    */
  def packTokens(s: SparkSession, dir: String,
                 seqLen: Long = 2048L, shardSize: Long = 1L << 17): DataFrame = {
    require(seqLen > 0 && shardSize > 0, "seqLen and shardSize must be positive")
    val d = Tables.documents(s, dir).select(
      col("doc_id"),
      size(expr("filter(split(text, ' '), w -> w <> '')")).cast("long")
        .as("n_tokens"),
      expr(s"doc_id div ${shardSize}L").as("shard"))
    val wLocal = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = d.withColumn("local_before",
      coalesce(sum("n_tokens").over(wLocal), lit(0L)))
    // #shards rows total (corpus/shardSize — metadata-sized), so the
    // shard prefix is computed on the driver: a collect of the shard
    // totals + a running sum, instead of a single-partition WindowExec
    // whose warning would mask a real global-window regression
    import s.implicits._
    val totals = d.groupBy("shard").agg(sum("n_tokens").as("shard_tokens"))
      .collect() // bounded by #shards, never by corpus size
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val prefix = totals.toSeq
      .map { case (sh, t) => val before = acc; acc += t; (sh, before) }
      .toDF("shard", "shard_before")
    local.join(broadcast(prefix), "shard")
      .select(col("doc_id"), col("n_tokens"),
        (col("shard_before") + col("local_before")).as("off"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"off div ${seqLen}L").as("pack_id"),
        (col("off") % seqLen).as("pack_offset"))
  }

  val DefaultSourceCap = 10

  /** Per-source document cap — the RefinedWeb/FineWeb-style domain cap:
    * keep the top `k` documents of each source by quality score
    * (deterministic tie-break on doc_id), 1-based rank appended. A
    * dominant crawl domain otherwise swamps the mix; capping per source
    * is the standard countermeasure, and it composes with
    * [[stratifiedSample]] (cap first, then mix rates apply to the
    * survivors).
    *
    * Runs on the native TopKPerKey operator: map-side heaps forward at
    * most k rows per source per partition, so the shuffle carries
    * O(sources · k · partitions) rows instead of the corpus — the same
    * reason q_topk_native beats the window form at scale. Score is the
    * shared [[TextAnalysis.scoreCol]], computed inline in the scan
    * (no second pass, no join).
    */
  def sourceCap(s: SparkSession, dir: String,
                k: Int = DefaultSourceCap): DataFrame = {
    val scored = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), TextAnalysis.scoreCol.as("score"))
    graft.plans.TopK.perKey(scored, Seq(col("source")),
      Seq(col("score").desc, col("doc_id").asc), k)
      .select(col("source"), col("doc_id"), col("score"), col("rnk"))
  }

  val DefaultWeightedK = 200

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    * algorithm A-ES): each document draws key = ln(u)/w with u uniform
    * in (0,1) and w its quality score; the global k LARGEST keys are an
    * exact weighted sample without replacement — the importance-sampling
    * step that upweights high-quality documents in a training mix
    * without a sequential pass.
    *
    * Sampling-as-filter discipline ([[stratifiedSample]]): u is a PURE
    * FUNCTION of doc_id (12 salted md5 nibbles → 48 bits → (0,1)), no
    * rand(), so the draw is reproducible and growing the corpus never
    * changes an existing document's key. The global top-k compiles to
    * TakeOrderedAndProject — per-partition heaps of k, a k-row driver
    * merge, NO global sort or shuffle at any corpus size.
    *
    * Determinism contract: u is exact (48-bit integer / 2⁴⁸+1, both
    * IEEE-exact); ln(u) is the one libm call, so the key is quantized
    * to 12 decimals once; ties (impossible under distinct u, but the
    * contract shouldn't rest on that) break on doc_id.
    */
  /** The A-ES key as a column over (doc_id, text) — shared with the
    * streaming sample so the online and batch draws are the same
    * function. 12 nibbles = 48 bits: exact in a double (< 2^53), wide
    * enough that collisions (birthday at ~2^24 docs) never decide the
    * sample.
    */
  private[graft] def sampleKeyCol: Column = {
    val h = conv(substring(
      md5(concat(lit("ws:"), col("doc_id").cast("string"))), 1, 12), 16, 10)
      .cast("double")
    val u = (h + lit(1.0)) / lit(281474976710657.0) // 2^48 + 1 → u ∈ (0,1)
    // scoreCol ≥ 0.3 by construction (empty doc = pure stopword-free
    // leg), so the division is total
    round(log(u) / TextAnalysis.scoreCol, 12)
  }

  def weightedSample(s: SparkSession, dir: String,
                     k: Int = DefaultWeightedK): DataFrame = {
    require(k > 0, "k must be positive")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        TextAnalysis.scoreCol.as("weight"), sampleKeyCol.as("skey"))
      .orderBy(col("skey").desc, col("doc_id").asc)
      .limit(k)
  }

  /** IN-ENGINE classifier TRAINING — batch perceptron over the hashed
    * bag-of-words features, distilling [[qualityClf]]'s fixed-weight
    * teacher into a learned weight vector. The training loop is the
    * PageRank pattern applied to model fitting: per epoch, ONE margin
    * pass (broadcast weights join + doc-keyed partial agg) and ONE
    * update pass (bucket-keyed partial agg collapsing to ≤ 257 rows
    * map-side); the driver ever holds the MODEL (257 longs), nothing
    * data-sized — exactly how a linear fastText-style filter trains on
    * a 1000-executor corpus. Bias = pseudo-bucket −1 with count 1.
    *
    * Everything is INTEGER (counts × integer weights; the update is
    * Σ y·cnt over misclassified docs, margin ≤ 0 counts as missed), so
    * E epochs are bit-identical cross-engine and the DuckDB oracle
    * UNROLLS them as chained CTEs — the hash proves every epoch, like
    * q_pagerank's iteration unroll. Output: per-doc teacher label,
    * final margin, sign prediction, agreement flag.
    */
  val ClfEpochs = 8

  /** Per-token margin for the training subset: only docs the teacher is
    * CONFIDENT about (|clf_score| ≥ margin · n_tokens) train the
    * perceptron. A big separation margin is what makes the fixed
    * 8-epoch budget converge (measured: train subset 100% fitted within
    * 8 epochs at every SF; plain batch perceptron over ALL docs needs
    * 64+ epochs to even reach 96%) — and predicting the ambiguous
    * remainder from the confident core is exactly how distillation-
    * style quality filters are trained in practice. Epochs past
    * convergence are exact no-ops (no misclassified docs → zero
    * update), so the fixed budget stays deterministic.
    */
  val ClfTrainMargin = 100L

  def clfTrain(s: SparkSession, dir: String,
               epochs: Int = ClfEpochs,
               trainMargin: Long = ClfTrainMargin): DataFrame = {
    require(epochs >= 1, "need at least one epoch")
    val bucketSql = s"(cast(conv(substring(md5(w), 1, 4), 16, 10) as bigint) % $ClfBuckets)"
    val docs = Tables.documents(s, dir)
    val feats = docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .select(col("doc_id"), expr(bucketSql).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .unionAll(docs.select(col("doc_id"), lit(-1L).as("bucket"),
        lit(1L).as("cnt")))
    val labels = qualityClf(s, dir)
      .select(col("doc_id"),
        when(col("clf_score") >= 0L, 1L).otherwise(-1L).as("y"),
        (abs(col("clf_score")) >=
          lit(trainMargin) * greatest(col("n_tokens"), lit(1L)))
          .as("in_train"))
    // Per-doc FEATURE VECTOR, materialized once (optimization r18,
    // guide §2.4): the r17 epoch loop paid a broadcast weight join +
    // a doc-keyed re-aggregation + a doc-keyed join-back PER EPOCH
    // (8 epochs x 3 shuffles over doc x bucket rows). With features
    // collapsed to one bounded array per doc (<= 258 entries), the
    // margin is a PROJECTION — an integer fold of the array against
    // the 257-long broadcast-literal weight vector — so each epoch is
    // one job: filter misclassified, explode THEIR features, one
    // partial-agg groupBy to <= 257 update rows. Same integer
    // arithmetic, same update rule, bit-identical epochs (the oracle
    // unrolls them unchanged).
    val xy = feats.join(labels, "doc_id")
      .groupBy("doc_id", "y", "in_train")
      .agg(collect_list(struct(col("bucket"), col("cnt"))).as("fs"))
      .localCheckpoint()
    var w: Map[Long, Long] =
      ((-1L) until ClfBuckets.toLong).map(_ -> 0L).toMap
    def marginCol(wm: Map[Long, Long]): Column = {
      // weight vector as an array literal indexed by bucket + 2
      // (element_at is 1-based; bucket -1 is the bias slot)
      val wArr = array(((-1L) until ClfBuckets.toLong)
        .map(b => lit(wm(b))): _*)
      aggregate(col("fs"), lit(0L), (acc, f) =>
        acc + element_at(wArr, (f.getField("bucket") + 2L).cast("int"))
          * f.getField("cnt"))
    }
    val train = xy.filter(col("in_train"))
    (1 to epochs).foreach { _ =>
      val upd = train.withColumn("s", marginCol(w))
        .filter(col("y") * col("s") <= 0L)
        .select(col("y"), explode(col("fs")).as("f"))
        .groupBy(col("f.bucket").as("bucket"))
        .agg(sum(col("y") * col("f.cnt")).as("dw"))
        .collect() // <= 257 rows: the model update, never the data
      upd.foreach(r => w += (r.getLong(0) -> (w(r.getLong(0)) + r.getLong(1))))
    }
    xy.withColumn("s", marginCol(w))
      .select(col("doc_id"), col("y"), col("s").as("margin"),
        when(col("s") > 0L, 1L).when(col("s") < 0L, -1L).otherwise(0L)
          .as("y_pred"), col("in_train"))
      .withColumn("correct", col("y_pred") === col("y"))
  }

  /** CCNet-style PERPLEXITY-BAND filtering (Wenzek et al. 2020): score
    * every document with the in-engine bigram LM ([[lmBigram]]), split
    * the scored corpus into head / middle / tail terciles by mean
    * log-prob (high lp = low perplexity = clean), and keep head +
    * middle — the standard quality gate a pretraining pipeline puts in
    * front of sampling. Docs the LM cannot score (no bigrams) band as
    * 'unscored' and are dropped.
    *
    * Tercile thresholds are RANK statistics (the ExactNum.quantilePos
    * k-th-smallest contract, NOT an interpolated percentile — those
    * diverge across engines): the k-th smallest mean_lp with ties
    * broken on doc_id, k = ⌈round(n·q, 9)⌉. mean_lp itself is one
    * IEEE division of an exact decimal sum by an exact count, so both
    * engines rank identical doubles.
    *
    * Scale shape — a DISTRIBUTED RANK, not a global window: mean_lp is
    * continuous (distinct values ≈ corpus size), so the histogram trick
    * doesn't apply; instead the scored docs are range-partitioned on
    * (mean_lp, doc_id) — partition p holds a contiguous slice of the
    * global order — local ranks come from a PER-PARTITION window, and
    * the global rank is local rank + a broadcast prefix of the
    * per-partition counts (≤ shuffle-partition rows, driver-side — the
    * [[packTokens]] two-level prefix decomposition applied to ranking).
    * No operator ever holds more than one range slice; the oracle's
    * sequential rank agreeing hash-for-hash is the exactness proof.
    */
  // ---- DSIR: data selection via importance resampling ------------------

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): pick raw-corpus documents whose hashed-n-gram
    * distribution resembles a TARGET corpus, by importance weight
    * log w(x) = Σ_b c_b(x)·(ln p_b − ln q_b), with p fit on the target
    * and q on the raw corpus over B hashed unigram+bigram buckets
    * (add-one smoothing). The standard pretraining data-selection step
    * ("crawl that looks like Wikipedia") sitting between pure
    * heuristics (doc_filter) and trained classifiers (doc_clf_train).
    * Target here = the English slice (lang = 'en'), the
    * oracle-reproducible stand-in for a trusted corpus.
    *
    * Scale shape: both distribution fits are B-row partial-agg
    * groupBys (B = [[DsirBuckets]], a constant); the bucket-weight
    * table BROADCASTS (never a shuffle join on Zipf-skewed grams —
    * the lmScore argument); the per-doc weight is ONE doc-keyed
    * partial agg over the exploded grams. No windows, no self-joins.
    *
    * Determinism: every ln argument is an INTEGER (smoothed counts and
    * totals — lmBigram's strict contract), quantized at 12 once in the
    * B-row table, summed in exact decimal, cast to double once.
    */
  val DsirBuckets = 256
  val DsirTargetLang = "en"

  private def dsirOcc(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("doc_id"), col("lang"), explode(expr(
        """concat(ws, CASE WHEN size(ws) >= 2
          |THEN transform(sequence(0, size(ws) - 2),
          |  i -> concat(ws[i], ' ', ws[i+1]))
          |ELSE array() END)""".stripMargin)).as("g"))
      .withColumn("bucket", expr(
        s"cast(conv(substring(md5(g), 1, 4), 16, 10) as bigint) % $DsirBuckets"))

  /** Served weights, memoized per (session, dir): doc_dsir and
    * doc_dsir_sample share ONE scored frame instead of re-running the
    * gram pass per entry.
    */
  def dsirWeights(s: SparkSession, dir: String): DataFrame =
    Memo.over(s, "Curation.dsirWeights", s"$dir/documents.parquet")(
      dsirWeightsUncached(s, dir).localCheckpoint())

  private def dsirWeightsUncached(s: SparkSession, dir: String): DataFrame = {
    def qln(c: Column): Column =
      round(log(c.cast("double")), 12).cast("decimal(28,12)")
    val occ = dsirOcc(s, dir)
    val raw = occ.groupBy("bucket").agg(count(lit(1)).as("rc"))
    val tgt = occ.filter(col("lang") === DsirTargetLang)
      .groupBy("bucket").agg(count(lit(1)).as("tc"))
    val totals = raw.agg(sum("rc").as("rt"))
      .crossJoin(tgt.agg(sum("tc").as("tt")))
    // every gram of every doc is in the raw counts, so the raw table
    // indexes the whole weight surface; target-absent buckets smooth
    val wt = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (qln(coalesce(col("tc"), lit(0L)) + lit(1L))
          - qln(col("tt") + lit(DsirBuckets.toLong))
          - qln(col("rc") + lit(1L))
          + qln(col("rt") + lit(DsirBuckets.toLong)))
          .cast("decimal(28,12)").as("lw"))
    val perDoc = occ.join(broadcast(wt), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum("lw").as("slw"))
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("slw").cast("double"), lit(0.0)).as("logw"))
  }

  /** The resampling step: Gumbel top-k over log w — an exact sample
    * without replacement from softmax(log w) (the Gumbel-max trick,
    * DSIR's §2.3), so high-importance docs are FAVORED, not merely
    * thresholded, and the draw stays reproducible: u is the A-ES
    * 48-bit md5 uniform under its own salt ([[sampleKeyCol]]
    * discipline — growing the corpus never changes an existing key).
    * ln(u) is clamped away from −0.0 (a u within 5e-13 of 1 would
    * otherwise send the outer ln to −∞). Global top-k compiles to
    * TakeOrderedAndProject: per-partition heaps, k-row driver merge,
    * no global sort at any corpus size.
    */
  val DsirSampleK = 150

  def dsirSample(s: SparkSession, dir: String,
                 k: Int = DsirSampleK): DataFrame = {
    require(k > 0, "k must be positive")
    val h = conv(substring(
      md5(concat(lit("dsir:"), col("doc_id").cast("string"))), 1, 12), 16, 10)
      .cast("double")
    val u = (h + lit(1.0)) / lit(281474976710657.0)
    val lnu = least(round(log(u), 12), lit(-1e-12))
    val g = round(-log(-lnu), 12)
    dsirWeights(s, dir)
      .withColumn("gkey", round(col("logw") + g, 9))
      .orderBy(col("gkey").desc, col("doc_id").asc)
      .limit(k)
  }

  def pplFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the LM scorer feeds both the rank pass and the final banding —
    // materialize its (doc_id, in_train, n_bigrams, mean_lp) output
    // once (4 narrow columns, doc-count rows) instead of evaluating
    // the whole count-table pipeline twice
    val base = lmBigram(s, dir).localCheckpoint()
    val scored = base.filter(col("n_bigrams") > 0L)
    val nPart = s.sessionState.conf.numShufflePartitions
    val parted = scored.select(col("doc_id"), col("mean_lp"))
      .repartitionByRange(nPart, col("mean_lp").asc, col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // pid is plan-position-dependent; pin it once
    // one row per range partition (bounded by nPart, never the corpus):
    // prefix offsets are a driver-side running sum over those counts
    val counts = parted.groupBy("pid").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val prefix = counts.map { case (p, c) =>
      val before = acc; acc += c; (p, before, c)
    }
    // the per-partition counts already sum to the scored-doc total —
    // the tercile rank positions are driver arithmetic (same
    // ceil(round(n·q, 9)) rule as ExactNum.quantilePos), not another
    // full pass over the scorer
    val nScored = acc
    def kOf(q: Double): Long = math.max(1L, math.ceil(
      BigDecimal(nScored * q)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble).toLong)
    val (k1, k2) = (kOf(1.0 / 3), kOf(2.0 / 3))
    // the prefix also tells WHICH range slice holds each global rank —
    // only those (≤2) partitions enter the rank window at all; the
    // pick frame is (pid, local rank, tag), broadcast as a filter
    val picks = Seq(k1 -> "t1", k2 -> "t2").map { case (k, tag) =>
      val (p, before, _) = prefix
        .find { case (_, before, c) => before < k && k <= before + c }.get
      (p, k - before, tag)
    }
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("pid").orderBy(col("mean_lp").asc, col("doc_id").asc)
    val ts = parted
      .join(broadcast(picks.toDF("pid", "lk", "tag")), "pid")
      .withColumn("lr", row_number().over(wLocal))
      .filter(col("lr") === col("lk"))
      .agg(max(when(col("tag") === "t1", col("mean_lp"))).as("t1"),
        max(when(col("tag") === "t2", col("mean_lp"))).as("t2"))
    base.crossJoin(broadcast(ts))
      .select(col("doc_id"), col("n_bigrams"), col("mean_lp"),
        when(col("n_bigrams") === 0L, "unscored")
          .when(col("mean_lp") > col("t2"), "head")
          .when(col("mean_lp") > col("t1"), "middle")
          .otherwise("tail").as("band"))
      .withColumn("keep", col("band") === "head" || col("band") === "middle")
  }
}
