package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** IN-ENGINE BPE tokenizer TRAINING — the byte-pair-encoding merge loop
  * (Sennrich et al. 2016, the construction behind GPT/LLaMA-family
  * tokenizers) as a distributed iterative job, the same shape as
  * q_pagerank and doc_clf_train: per merge round ONE pair-count pass
  * (explode adjacent symbol pairs → partial-agg groupBy, shuffle
  * bounded by the distinct-pair vocabulary) and ONE driver-side argmax
  * (a single row — the driver only ever holds the MODEL, never data).
  *
  * The classic trainer trick makes this 100 TB-safe: the corpus is
  * scanned ONCE to build the (word, freq) vocabulary table, and all
  * merge rounds iterate over that vocabulary — corpus-size-independent
  * state, exactly how production BPE trainers count words first.
  *
  * Words are encoded as DOUBLE-DELIMITED symbol strings
  * (`<US> s1 <US><US> s2 <US><US> … <US><US> <RS> <US>` — every
  * symbol wrapped in its own `<US>…<US>`, so adjacent symbols are
  * separated by TWO delimiters): merging pair (x, y) is then the
  * plain string replace of `<US>x<US><US>y<US>` with `<US>xy<US>`.
  * Left-to-right non-overlapping replace — the semantics BOTH Spark's
  * UTF8String.replace and DuckDB's replace implement — is EXACTLY
  * canonical BPE's greedy single-pass merge under this encoding:
  * both x AND y are anchored as COMPLETE symbols (the pattern is
  * closed by a delimiter on each side), and adjacent matches in an
  * x==y run are character-disjoint, so runs merge pairwise
  * left-to-right like real BPE. A single-sided (prefix-only)
  * delimiter is NOT enough — its pattern can match a following
  * symbol that merely STARTS with y (e.g. merging (a,b) against
  * symbols `a · bc` would falsely produce `abc`), which the
  * deep-depth BpeSpec run exposed at merge round 9 on the live
  * corpus via reduction > pair-count. That makes every round, and
  * therefore the whole training run, bit-identical cross-engine: the
  * DuckDB oracle unrolls the rounds as chained CTEs and the hash
  * proves each one (reference analogue: the reference ships no
  * trainer — this is part of graft's training-data-pipeline surface).
  *
  * Tie-break on equal pair counts: lexicographically smallest (x, y)
  * — deterministic in both engines (pure-ASCII symbols, so byte order
  * = codepoint order).
  */
object Bpe {

  /** Merge rounds. Small enough to unroll in the oracle, large enough
    * that merges chain into multi-char subwords on the synthetic corpus.
    */
  val Merges = 12

  /** Symbol delimiter — prefixes EVERY symbol (never appears in text:
    * documents are lowercase words + spaces).
    */
  val D = "\u001f"

  /** End-of-word marker symbol (classic </w>). */
  val Eow = "\u001e"

  /** Double delimiter — separates adjacent wrapped symbols. */
  private[graft] val DD = D + D

  private[pipeline] val symsOf: org.apache.spark.sql.Column =
    concat(lit(D), array_join(split(col("w"), ""), DD), lit(DD), lit(Eow), lit(D))

  /** The (word, freq, syms) vocabulary — the only corpus-derived state
    * the merge loop touches.
    */
  private[pipeline] def vocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("syms", symsOf)

  final case class Merge(m: Long, x: String, y: String, cnt: Long)

  /** Learned merges, memoized per (session, sf dir, rounds) — same
    * shape as Dedup's collapsed contents: train once per corpus, serve
    * bpe_train / bpe_tokens / bpe_vocab from the one model (the
    * train-once-tokenize-many lifecycle a real tokenizer has). The
    * value is the MODEL (≤ `merges` rows), never data.
    */
  def learnedMerges(s: SparkSession, dir: String,
                    merges: Int = Merges): Seq[Merge] =
    Memo.over(s, "Bpe.learnedMerges", s"$dir/documents.parquet", merges) {
      // Adaptive trainer split, the standard BPE production shape: the
      // corpus reduces ONCE to (word, freq) — the only corpus-sized
      // pass — then the merge loop runs wherever the VOCABULARY fits.
      // Under the cap the loop is driver-side over the collected vocab
      // (Java String.replace scans left-to-right non-overlapping,
      // exactly like Spark's and DuckDB's replace — BpeSpec asserts
      // path equality); a 100 TB-corpus vocabulary (~10⁸ words) blows
      // the cap and takes the distributed loop instead.
      val head = vocab(s, dir).select("w", "freq").take(DriverVocabCap + 1)
      if (head.length <= DriverVocabCap)
        driverLoop(head.map(r => (r.getString(0), r.getLong(1))), merges)
      else trainLoop(s, dir, merges)
    }

  /** Vocabulary size up to which the merge loop runs on the driver. */
  val DriverVocabCap = 200000

  private[graft] def driverLoop(words: Array[(String, Long)],
                         merges: Int): Seq[Merge] = {
    var syms = words.map { case (w, f) =>
      (D + w.split("").mkString(DD) + DD + Eow + D, f)
    }
    val learned = Seq.newBuilder[Merge]
    var m = 0
    var exhausted = false
    while (m < merges && !exhausted) {
      val counts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      syms.foreach { case (str, f) =>
        val sy = str.split(D).filter(_.nonEmpty)
        var i = 0
        while (i < sy.length - 1) {
          counts.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + f))
          i += 1
        }
      }
      // pair exhaustion = every word is a single token: STOP, the
      // model is complete (real trainers train "to vocab target or
      // exhaustion" — a 12-round request on a live corpus never hits
      // this; a deep-depth run returns the full merge table)
      if (counts.isEmpty) exhausted = true
      else {
        val ((x, y), cnt) = counts.minBy { case ((px, py), c) => (-c, px, py) }
        syms = syms.map { case (str, f) =>
          (str.replace(D + x + DD + y + D, D + x + y + D), f)
        }
        learned += Merge(m.toLong, x, y, cnt)
        m += 1
      }
    }
    learned.result()
  }

  /** Run the merge loop. Two plan-shape invariants keep the per-round
    * cost at scheduling overhead instead of fresh codegen 2× per round:
    * the vocabulary is re-localCheckpointed after each merge (every
    * round's pair-count plan is the SAME source over an RDD scan), and
    * the winning pair is applied via a one-row broadcast cross join
    * rather than literals (the replace plan's generated code is
    * round-invariant, so Spark's codegen cache serves rounds 2..M).
    */
  private[graft] def trainLoop(s: SparkSession, dir: String,
                        merges: Int): Seq[Merge] = {
    require(merges >= 1, "need at least one merge round")
    import s.implicits._
    // vocabulary-sized: materialize once, iterate in place
    var v = vocab(s, dir).localCheckpoint()
    val learned = Seq.newBuilder[Merge]
    var m = 0
    var exhausted = false
    while (m < merges && !exhausted) {
      val best = v
        .withColumn("sy", expr("filter(split(syms, char(31)), t -> t <> '')"))
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(element_at(sy, i) as x, element_at(sy, i + 1) as y))"))
          .as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("x").asc, col("y").asc)
        .limit(1).collect()
      // same exhaustion rule as [[driverLoop]]: no pairs → model done
      if (best.isEmpty) exhausted = true
      else {
        val (x, y, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        learned += Merge(m.toLong, x, y, cnt)
        val pair = Seq((x, y)).toDF("mx", "my")
        v = v.crossJoin(broadcast(pair))
          .withColumn("syms", replace(col("syms"),
            concat(lit(D), col("mx"), lit(DD), col("my"), lit(D)),
            concat(lit(D), col("mx"), col("my"), lit(D))))
          .drop("mx", "my")
          .localCheckpoint()
        m += 1
      }
    }
    learned.result()
  }

  /** The learned merge table: (m, x, y, cnt) per round — the MODEL. */
  def train(s: SparkSession, dir: String, merges: Int = Merges): DataFrame = {
    import s.implicits._
    learnedMerges(s, dir, merges).toDF()
  }

  /** Tokenize the corpus with the learned merges: per-document word and
    * BPE-token counts — the sizing signal a token-budget mixture needs
    * (doc_mixture uses whitespace tokens; this is the learned-tokenizer
    * refinement).
    */
  def tokenCounts(s: SparkSession, dir: String,
                  merges: Int = Merges): DataFrame =
    tokenCountsOf(Tables.documents(s, dir), learnedMerges(s, dir, merges))

  /** Learned-tokenizer token counts over ANY (doc_id, text) frame —
    * the stateless apply kernel shared by the batch entry and the
    * STREAMING tokenizer (streaming/BpeStream): the model is a ≤
    * `merges`-row constant folded into the plan as replace literals,
    * so tokenization is a pure projection + one doc-keyed partial agg.
    */
  private[graft] def tokenCountsOf(docs: DataFrame,
                                   ms: Seq[Merge]): DataFrame = {
    val init = docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .withColumn("syms", symsOf)
    val merged = ms.foldLeft(init) { (d, mg) =>
      d.withColumn("syms",
        replace(col("syms"), lit(D + mg.x + DD + mg.y + D), lit(D + mg.x + mg.y + D)))
    }
    merged
      .withColumn("n_sym",
        size(expr("filter(split(syms, char(31)), t -> t <> '')")).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_bpe_tokens"))
  }

  /** Vocabulary head after training: top tokens by corpus occurrence
    * (word-freq-weighted over the final symbol strings — identical to
    * counting over the tokenized corpus, at vocabulary cost).
    */
  val VocabTopK = 40

  def vocabTop(s: SparkSession, dir: String,
               merges: Int = Merges): DataFrame = {
    val ms = learnedMerges(s, dir, merges)
    val finalVocab = ms.foldLeft(vocab(s, dir)) { (d, mg) =>
      d.withColumn("syms",
        replace(col("syms"), lit(D + mg.x + DD + mg.y + D), lit(D + mg.x + mg.y + D)))
    }
    finalVocab
      .select(col("freq"),
        explode(expr("filter(split(syms, char(31)), t -> t <> '')")).as("token"))
      .groupBy("token").agg(sum("freq").as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(VocabTopK)
  }
}
