package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** IN-ENGINE UNIGRAM-LM tokenizer TRAINING — the SentencePiece unigram
  * model (Kudo 2018: seed a large piece inventory, EM-estimate piece
  * probabilities, prune to a vocabulary target, serve by Viterbi
  * segmentation) as a distributed job, the second tokenizer family
  * next to [[Bpe]] (the two constructions behind essentially every
  * production LLM tokenizer).
  *
  * Same 100 TB posture as the BPE trainer: the corpus reduces ONCE to
  * the (word, freq) vocabulary — the only corpus-sized pass — and
  * every EM round iterates over that vocabulary, so training state is
  * corpus-size-independent. Under [[Bpe.DriverVocabCap]] the loop is
  * driver-side; above it the SAME per-word kernel runs as a
  * mapPartitions over the vocabulary frame with the piece counts
  * reduced by an integer groupBy sum (UnigramSpec proves the two
  * paths bit-equal by forcing both on the live corpus).
  *
  * Documented variant choices, on the record:
  *   - HARD EM (Viterbi-EM): the E-step counts pieces on each word's
  *     single BEST segmentation instead of Kudo's expected counts.
  *     Every statistic is then an INTEGER (freq-weighted path counts),
  *     which is what makes the trainer bit-deterministic on any plan:
  *     integer sums are order-independent where float expectation
  *     sums are not. Viterbi-EM's joint best-path likelihood is
  *     monotonically non-decreasing (spec-asserted per round).
  *   - Viterbi comparisons are EXACT: a path's probability is
  *     Π cnt(piece) / T^k, and two candidate prefixes compare by the
  *     cross-multiplied BigInt products Π₁·T^k₂ vs Π₂·T^k₁ — no
  *     float ln anywhere in an argmax, so no cross-path tie drift.
  *     Ties break on fewer pieces, then the lexicographically first
  *     piece sequence (total order, prefix-extension-stable).
  *   - Pruning is frequency-rank (keep the [[VocabTarget]] highest
  *     final counts; single-character pieces are unprunable — the
  *     coverage guarantee) rather than Kudo's per-piece likelihood
  *     loss; the loss ranking needs the soft-EM lattice the integer
  *     contract deliberately avoids.
  *
  * Serving is collapse-first like every apply kernel in the repo:
  * tokenization is a pure function of the word, so the corpus's
  * DISTINCT words are segmented once (vocabulary-sized work) and the
  * per-document token counts come from one broadcast join against
  * that word → n_tokens map — the corpus itself is never segmented
  * row by row.
  */
object Unigram {

  /** Longest candidate piece (substring seed span). */
  val MaxPieceLen = 6

  /** Seed inventory cap (top substrings by freq-weighted occurrence;
    * single chars ride for free — the coverage floor).
    */
  val SeedCap = 400

  /** EM rounds — enough for the count mass to settle on the corpus's
    * repeated stems (spec asserts the likelihood trajectory).
    */
  val EmRounds = 4

  /** Final vocabulary size (multi-char pieces; single chars extra). */
  val VocabTarget = 120

  /** The (word, freq) vocabulary — shared shape with [[Bpe]]. */
  private def vocab(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))

  /** The final (piece, cnt) model, count-descending (piece asc ties).
    * Memoized per (session, corpus dir) — train once, serve
    * unigram_train / unigram_tokens from the one model.
    */
  def learnedPieces(s: SparkSession, dir: String): Seq[(String, Long)] =
    Memo.over(s, "Unigram.learnedPieces", s"$dir/documents.parquet") {
      val head = vocab(s, dir).take(Bpe.DriverVocabCap + 1)
      val words = head.map(r => (r.getString(0), r.getLong(1)))
      if (head.length <= Bpe.DriverVocabCap) emLoop(words, distributed = None)
      else emLoop(Array.empty, distributed = Some((s, dir)))
    }

  /** Raw substring counts: every substring of length 1..
    * [[MaxPieceLen]], each occurrence weighted by the word's corpus
    * frequency. UNCAPPED — the cap is a GLOBAL top-k (a
    * partition-local cap could drop a piece that belongs in the
    * global top, which would fork the driver and distributed paths).
    */
  private[graft] def seedCounts(words: Iterator[(String, Long)]): Iterator[(String, Long)] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        while (l <= MaxPieceLen && i + l <= w.length) {
          val p = w.substring(i, i + l)
          counts.update(p, counts.getOrElse(p, 0L) + f)
          l += 1
        }
        i += 1
      }
    }
    counts.iterator
  }

  /** Global seed cap: top [[SeedCap]] multi-char pieces by
    * (cnt desc, piece asc) plus ALL single characters.
    */
  private def capSeed(all: Seq[(String, Long)]): Map[String, Long] = {
    val (chars, multi) = all.partition(_._1.length == 1)
    (chars ++ multi.sortBy { case (p, c) => (-c, p) }.take(SeedCap)).toMap
  }

  /** Exact Viterbi segmentation of `w` under integer piece counts.
    * Prefix state: (Π cnt as BigInt, piece count k, path). Candidates
    * at each position compare by cross-multiplied products (exact),
    * then fewer pieces, then lexicographic path. Characters absent
    * from the model fall back to a count-1 virtual piece (serving
    * coverage; never taken in training, where all chars are seeded).
    */
  private[graft] def viterbi(w: String, model: Map[String, Long],
                             totalT: BigInt): Seq[String] = {
    final case class St(num: BigInt, k: Int, path: List[String])
    def better(a: St, b: St): Boolean = {
      val l = a.num * totalT.pow(b.k)
      val r = b.num * totalT.pow(a.k)
      val c = l.compare(r)
      if (c != 0) c > 0
      else if (a.k != b.k) a.k < b.k
      else {
        // lexicographic piece sequence; NUL joins below any text char,
        // so joined-string order == sequence order
        a.path.reverse.mkString("\u0000") < b.path.reverse.mkString("\u0000")
      }
    }
    val best = new Array[St](w.length + 1)
    best(0) = St(BigInt(1), 0, Nil)
    var i = 1
    while (i <= w.length) {
      var j = math.max(0, i - MaxPieceLen)
      // single-char fallback considered only if nothing else reaches i
      var cand: St = null
      while (j < i) {
        if (best(j) != null) {
          val p = w.substring(j, i)
          val cnt = model.getOrElse(p,
            if (p.length == 1) 1L else 0L)
          if (cnt > 0L) {
            val st = St(best(j).num * cnt, best(j).k + 1, p :: best(j).path)
            if (cand == null || better(st, cand)) cand = st
          }
        }
        j += 1
      }
      best(i) = cand
      i += 1
    }
    best(w.length).path.reverse
  }

  /** One E-step over a word iterator: freq-weighted integer counts of
    * the pieces on each word's best path — the shared kernel of the
    * driver and distributed paths.
    */
  private def eStepCounts(words: Iterator[(String, Long)],
                          model: Map[String, Long],
                          totalT: BigInt): Map[String, Long] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      viterbi(w, model, totalT).foreach { p =>
        acc.update(p, acc.getOrElse(p, 0L) + f)
      }
    }
    acc.toMap
  }

  /** The EM loop. `distributed = Some((session, dir))` runs each
    * E-step as a mapPartitions over the vocabulary frame with an
    * integer groupBy reduce — same kernel, same integers, same model.
    */
  private def emLoop(words: Array[(String, Long)],
                     distributed: Option[(SparkSession, String)],
                     rounds: Int = EmRounds): Seq[(String, Long)] = {
    var model: Map[String, Long] = distributed match {
      case None => capSeed(seedCounts(words.iterator).toSeq)
      case Some((s, dir)) =>
        import s.implicits._
        // per-partition raw counting + integer groupBy — the
        // vocabulary-sized distributed twin of the driver seed pass;
        // the driver only pulls the alphabet and the SeedCap head
        // (two bounded collects), never the substring inventory
        val sub = vocab(s, dir).as[(String, Long)]
          .mapPartitions(seedCounts)
          .toDF("piece", "cnt")
          .groupBy("piece").agg(sum("cnt").as("cnt"))
        val chars = sub.filter(length(col("piece")) === 1)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val multi = sub.filter(length(col("piece")) > 1)
          .orderBy(col("cnt").desc, col("piece").asc).limit(SeedCap)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        (chars ++ multi).toMap
    }
    var r = 0
    while (r < rounds) {
      val t = BigInt(model.values.sum)
      val counted = distributed match {
        case None => eStepCounts(words.iterator, model, t)
        case Some((s, dir)) =>
          import s.implicits._
          val bcModel = s.sparkContext.broadcast(model)
          vocab(s, dir).as[(String, Long)]
            .mapPartitions(it => eStepCounts(it, bcModel.value, t).iterator)
            .toDF("piece", "cnt")
            .groupBy("piece").agg(sum("cnt").as("cnt"))
            .collect().map(x => (x.getString(0), x.getLong(1))).toMap
      }
      // unprunable coverage floor: single chars stay alive at >= 1
      model = model.flatMap { case (p, _) =>
        val c = counted.getOrElse(p, 0L)
        if (c > 0L) Some(p -> c)
        else if (p.length == 1) Some(p -> 1L)
        else None
      }
      r += 1
    }
    val (chars, multi) = model.toSeq.partition(_._1.length == 1)
    (chars ++ multi.sortBy { case (p, c) => (-c, p) }.take(VocabTarget))
      .sortBy { case (p, c) => (-c, p) }
  }

  /** Corpus best-path log-likelihood under a model — the spec's
    * monotonicity signal (doubles are fine for a trajectory assert;
    * no argmax ever reads them).
    */
  private[graft] def pathLogLik(words: Array[(String, Long)],
                                model: Map[String, Long]): Double = {
    val t = BigInt(model.values.sum)
    val lnT = math.log(t.toDouble)
    words.iterator.map { case (w, f) =>
      val path = viterbi(w, model, t)
      f.toDouble * path.map(p => math.log(
        model.getOrElse(p, 1L).toDouble) - lnT).sum
    }.sum
  }

  /** Exposed for the path-equality spec: run the full EM on an
    * explicit word array (driver kernel) or distributed.
    */
  private[graft] def trainOn(words: Array[(String, Long)],
                             rounds: Int = EmRounds): Seq[(String, Long)] =
    emLoop(words, None, rounds)
  private[graft] def trainDistributed(s: SparkSession, dir: String): Seq[(String, Long)] =
    emLoop(Array.empty, Some((s, dir)))

  /** The trained model as a frame: (piece, cnt, logprob), count-
    * descending — logprob quantized at 12 dp (the engine's round-12
    * display law; training itself never consumed a float).
    */
  def train(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = learnedPieces(s, dir)
    val t = m.map(_._2).sum.toDouble
    m.map { case (p, c) =>
      (p, c, BigDecimal(math.log(c / t))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("piece", "cnt", "logprob")
  }

  /** Per-document word and unigram-token counts — the [[Bpe
    * .tokenCounts]] sibling. Collapse-first: segment each DISTINCT
    * word once, broadcast the (word → n_tokens) map, one doc-keyed
    * partial agg.
    */
  def tokenCounts(s: SparkSession, dir: String): DataFrame = {
    val m = learnedPieces(s, dir).toMap
    val t = BigInt(m.values.sum)
    val bcM = s.sparkContext.broadcast(m)
    import s.implicits._
    val wordTok = vocab(s, dir).as[(String, Long)]
      .mapPartitions { it =>
        it.map { case (w, _) => (w, viterbi(w, bcM.value, t).length.toLong) }
      }.toDF("w", "n_tok")
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
      .join(broadcast(wordTok), Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_tok").as("n_unigram_tokens"))
  }
}
