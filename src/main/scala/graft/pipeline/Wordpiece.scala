package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** IN-ENGINE WordPiece tokenizer TRAINING — the third trained-tokenizer
  * family after BPE (pair-count argmax) and unigram-LM (Viterbi-EM).
  * WordPiece (Schuster & Nakajima 2012; the BERT-family construction)
  * runs the SAME greedy merge loop as BPE but ranks candidate pairs by
  * LIKELIHOOD GAIN instead of raw count: merging (x, y) into xy raises
  * the corpus unigram-LM log-likelihood by ≈ c(xy)·[log p(xy) −
  * log p(x) − log p(y)], so the trainer picks the pair maximizing
  * score(x, y) = c(x,y) / (c(x)·c(y)) — frequent-together relative to
  * frequent-apart.
  *
  * Determinism contract (the engine's quantized-rank law): the score is
  * a RATIONAL with integer numerator and denominator, and comparing
  * rationals exactly needs cross-multiplication — not a sort key. The
  * entry therefore defines the rank key as the INTEGER floor quotient
  *   score_q = (c12 · 10¹⁸) div (c1 · c2)
  * computed in decimal(38,0)/HUGEINT on both engines (exact — floor
  * division of integers), tie-broken by lexicographic (x, y). Both
  * engines compute the identical key, so the argmax — and with it every
  * round, and with it the whole model — is bit-identical cross-engine;
  * the DuckDB oracle unrolls the rounds as chained CTEs (the
  * q_pagerank / bpe_train pattern) and the hash proves each one.
  * Overflow bound: c12 ≤ 10¹⁹ keeps the numerator inside decimal(38,0)
  * — safe past trillion-token corpora.
  *
  * Scale shape = the BPE trainer's exactly: ONE corpus-sized (word,
  * freq) reduction, then every merge round iterates the vocabulary
  * (corpus-size-independent); per round one pair-count pass + one
  * symbol-count pass (both partial-agg groupBys over vocabulary-sized
  * frames) and a single-row argmax on the driver. Under the vocabulary
  * cap the loop runs driver-side in exact BigInt; both paths share the
  * argmax law and WordpieceSpec pins them equal on the live corpus.
  */
object Wordpiece {

  /** Merge rounds — small enough to unroll in the oracle. */
  val Merges = 10

  /** Quantization scale of the rank key (digits of the floor quotient). */
  val ScoreScale: BigInt = BigInt(10).pow(18)

  import Bpe.{D, DD, Eow, DriverVocabCap}

  final case class Merge(m: Long, x: String, y: String, cnt: Long, score: Long)

  def learnedMerges(s: SparkSession, dir: String,
                    merges: Int = Merges): Seq[Merge] =
    Memo.over(s, "Wordpiece.learnedMerges", s"$dir/documents.parquet", merges) {
      val head = Bpe.vocab(s, dir).select("w", "freq").take(DriverVocabCap + 1)
      if (head.length <= DriverVocabCap)
        driverLoop(head.map(r => (r.getString(0), r.getLong(1))), merges)
      else trainLoop(s, dir, merges)
    }

  /** Exact-BigInt driver loop (vocabulary under the cap). */
  private[graft] def driverLoop(words: Array[(String, Long)],
                                merges: Int): Seq[Merge] = {
    var syms = words.map { case (w, f) =>
      (D + w.split("").mkString(DD) + DD + Eow + D, f)
    }
    val learned = Seq.newBuilder[Merge]
    var m = 0
    var exhausted = false
    while (m < merges && !exhausted) {
      val pairs = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      val uni = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      syms.foreach { case (str, f) =>
        val sy = str.split(D).filter(_.nonEmpty)
        var i = 0
        while (i < sy.length) {
          uni.updateWith(sy(i))(c => Some(c.getOrElse(0L) + f))
          if (i < sy.length - 1)
            pairs.updateWith((sy(i), sy(i + 1)))(c => Some(c.getOrElse(0L) + f))
          i += 1
        }
      }
      if (pairs.isEmpty) exhausted = true
      else {
        val scored = pairs.map { case ((x, y), c12) =>
          val q = (BigInt(c12) * ScoreScale / (BigInt(uni(x)) * BigInt(uni(y)))).toLong
          ((x, y), c12, q)
        }
        val ((x, y), cnt, sc) =
          scored.minBy { case ((px, py), _, q) => (-q, px, py) }
        syms = syms.map { case (str, f) =>
          (str.replace(D + x + DD + y + D, D + x + y + D), f)
        }
        learned += Merge(m.toLong, x, y, cnt, sc)
        m += 1
      }
    }
    learned.result()
  }

  /** Distributed loop: per round a pair-count groupBy + a symbol-count
    * groupBy over the re-checkpointed vocabulary, the quantized score
    * in decimal(38,0) (D19·D19 products stay inside precision), one
    * single-row argmax collect. Same plan-shape invariants as
    * Bpe.trainLoop: round-invariant generated code, model-only driver
    * state.
    */
  private[graft] def trainLoop(s: SparkSession, dir: String,
                               merges: Int): Seq[Merge] = {
    require(merges >= 1, "need at least one merge round")
    import s.implicits._
    var v = Bpe.vocab(s, dir).localCheckpoint()
    val learned = Seq.newBuilder[Merge]
    var m = 0
    var exhausted = false
    while (m < merges && !exhausted) {
      val sy = v.withColumn("sy",
        expr("filter(split(syms, char(31)), t -> t <> '')"))
      val uni = sy
        .select(col("freq"), explode(col("sy")).as("sym"))
        .groupBy("sym").agg(sum("freq").as("c"))
      val best = sy
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(sy) - 1), " +
            "i -> struct(element_at(sy, i) as x, element_at(sy, i + 1) as y))"))
          .as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum("freq").as("cnt"))
        .join(uni.withColumnRenamed("sym", "x").withColumnRenamed("c", "cx"), "x")
        .join(uni.withColumnRenamed("sym", "y").withColumnRenamed("c", "cy"), "y")
        .withColumn("score", expr(
          "CAST((CAST(cnt AS DECIMAL(19,0)) * CAST(1000000000000000000 AS DECIMAL(19,0)))" +
            " DIV (CAST(cx AS DECIMAL(19,0)) * CAST(cy AS DECIMAL(19,0))) AS BIGINT)"))
        .orderBy(col("score").desc, col("x").asc, col("y").asc)
        .limit(1).select("x", "y", "cnt", "score").collect()
      if (best.isEmpty) exhausted = true
      else {
        val (x, y, cnt, sc) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2), best(0).getLong(3))
        learned += Merge(m.toLong, x, y, cnt, sc)
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

  /** The learned merge table (m, x, y, cnt, score) — the MODEL. */
  def train(s: SparkSession, dir: String, merges: Int = Merges): DataFrame = {
    import s.implicits._
    learnedMerges(s, dir, merges).toDF()
  }

  /** Tokenize the corpus with the learned merges (BPE-family serving:
    * the ordered merge list IS the segmenter — applying it left-to-right
    * reproduces training segmentation exactly, the same guarantee BERT's
    * longest-match serving approximates). Collapse-first over words via
    * the shared constant-folded replace kernel.
    */
  def tokenCounts(s: SparkSession, dir: String,
                  merges: Int = Merges): DataFrame =
    Bpe.tokenCountsOf(Tables.documents(s, dir),
        learnedMerges(s, dir, merges).map(w => Bpe.Merge(w.m, w.x, w.y, w.cnt)))
      .withColumnRenamed("n_bpe_tokens", "n_wp_tokens")
}
