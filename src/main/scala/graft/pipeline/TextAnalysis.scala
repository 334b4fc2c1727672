package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators over the documents table: token stats, quality
  * scoring, language ID, fingerprinting. All built from codegen'd string/
  * array builtins; all arithmetic derives doubles from exact integer
  * counts, so results are bit-identical across engines.
  */
object TextAnalysis {

  private val words: Column = expr("filter(split(text, ' '), w -> w <> '')")

  /** Token + char counts per doc: whitespace tokens plus a BPE-ish
    * regex tokenization (word pieces + individual punctuation — the
    * pre-tokenizer split most BPE vocabularies assume). The pattern uses
    * only explicit character classes so Java regex (Spark) and RE2
    * (DuckDB) agree.
    */
  def tokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(words).cast("long").as("n_tokens"),
      size(regexp_extract_all(col("text"),
        lit("[A-Za-z0-9]+|[^A-Za-z0-9 ]"), lit(0))).cast("long").as("n_bpe_tokens"),
      length(col("text")).cast("long").as("n_chars_calc"))

  private val stopPred =
    "w = 'the' OR w = 'a' OR w = 'of' OR w = 'and' OR w = 'to' OR w = 'in'"

  /** The quality score as a column expression over `text` — shared with
    * the keep-best dedup policy so keep-best can score inline in its own
    * scan instead of joining against a second pass over the table.
    */
  private[graft] def scoreCol: Column = {
    val nTok = size(words).cast("long")
    val nDist = size(array_distinct(words)).cast("long")
    val nStop =
      expr(s"size(filter(filter(split(text, ' '), w -> w <> ''), w -> $stopPred))")
        .cast("long")
    // greatest(·,1): an empty/whitespace-only doc must score 0.3, not
    // throw ANSI DIVIDE_BY_ZERO mid-pipeline (oracle uses the same guard)
    val denom = greatest(nTok, lit(1L))
    least(lit(1.0), nTok / 100.0) * 0.3 +
      (nDist / denom) * 0.4 +
      (lit(1.0) - nStop / denom) * 0.3
  }

  /** Quality score in [0,1]: length saturation + lexical diversity +
    * stopword penalty (the classic cheap pretraining-quality features).
    */
  def quality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(
      col("doc_id"),
      size(words).cast("long").as("n_tokens"),
      scoreCol.as("score"))
      .withColumn("quality_band",
        when(col("score") >= 0.8, "high")
          .when(col("score") >= 0.5, "medium")
          .otherwise("low"))

  /** Stopword-vote language ID (n-gram-heuristic stand-in): votes per
    * language from tiny marker-word sets; argmax with deterministic
    * fallback 'und' when no marker hits.
    */
  def langId(s: SparkSession, dir: String): DataFrame = {
    def votes(markers: Seq[String]): String =
      markers.map(m => s"w = '$m'").mkString(" OR ")
    val en = votes(Seq("the", "a", "of", "and"))
    val fr = votes(Seq("le", "la", "et", "les"))
    val de = votes(Seq("der", "die", "und", "das"))
    val es = votes(Seq("el", "los", "y", "las"))
    val d = Tables.documents(s, dir).select(
      col("doc_id"), col("lang").as("actual"),
      expr(s"size(filter(filter(split(text, ' '), w -> w <> ''), w -> $en))").cast("long").as("v_en"),
      expr(s"size(filter(filter(split(text, ' '), w -> w <> ''), w -> $fr))").cast("long").as("v_fr"),
      expr(s"size(filter(filter(split(text, ' '), w -> w <> ''), w -> $de))").cast("long").as("v_de"),
      expr(s"size(filter(filter(split(text, ' '), w -> w <> ''), w -> $es))").cast("long").as("v_es"))
    val best = greatest(col("v_en"), col("v_fr"), col("v_de"), col("v_es"))
    val predicted = when(best === 0, "und")
      .when(col("v_en") === best, "en")
      .when(col("v_fr") === best, "fr")
      .when(col("v_de") === best, "de")
      .otherwise("es")
    d.select(col("doc_id"), col("v_en"), col("v_fr"), col("v_de"), col("v_es"),
      predicted.as("predicted"), col("actual"),
      (predicted === col("actual")).as("correct"))
  }

  /** Rolling-hash sketch fingerprint: hash every word 3-gram (the
    * rolling window), keep the bottom-8 distinct hashes (a bottom-k
    * sketch — stable under small edits, unlike the whole-document hash),
    * and fingerprint the ordered sketch. Docs sharing the fingerprint
    * are near-identical even when raw bytes differ mid-document.
    */
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("doc_id"),
        explode_outer(graft.pipeline.Dedup.shinglesOf("ws")).as("sh"))
      .groupBy("doc_id")
      .agg(slice(sort_array(collect_set(substring(md5(col("sh")), 1, 8))), 1, 8)
        .as("sketch"))
    d.select(col("doc_id"), md5(concat_ws("", col("sketch"))).as("rolling_fp"))
  }

  /** ExactSubstr-style duplicate-span coverage (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499): a span is duplicated when its `gram`-token
    * sequence occurs ≥ `minCount` times ANYWHERE in the corpus; per
    * document, report how many span starts are duplicated and what
    * fraction of tokens at least one duplicated span covers — the
    * metric ExactSubstr cuts on (their suffix array finds ≥50-token
    * repeats; the fixed-gram formulation is the groupBy-able corpus
    * statistic for the same signal).
    *
    * Scale shape: shingle counts are a partial-agg groupBy keyed by the
    * shingle text (uniform — no hot key can dominate because identical
    * shingles COLLAPSE map-side); only duplicated span starts (measured
    * ~11% here) re-expand into covered positions, so the coverage
    * distinct/count is bounded by gram × dup-spans, never corpus size.
    */
  def dupSpans(s: SparkSession, dir: String,
               gram: Int = 4, minCount: Long = 2): DataFrame = {
    require(gram >= 2, "a span needs at least 2 tokens")
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("long").as("n_tokens"))
    val shingleExpr = {
      val terms = (0 until gram).map(k => s"ws[i+$k]").mkString(", ")
      expr(
        s"""CASE WHEN size(ws) >= $gram
           |THEN transform(sequence(0, size(ws) - $gram),
           |  i -> struct(i AS pos, concat_ws(' ', $terms) AS s))
           |ELSE array() END""".stripMargin)
    }
    val spans = base
      .select(col("doc_id"), explode(shingleExpr).as("sp"))
      .select(col("doc_id"), col("sp.pos").as("pos"), col("sp.s").as("s"))
    val dupShingles = spans.groupBy("s")
      .agg(count(lit(1)).as("c")).filter(col("c") >= minCount).select("s")
    val dup = spans.join(dupShingles, "s")
    val perDoc = dup.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"))
    val covered = dup
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (gram - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    base.select("doc_id", "n_tokens")
      .join(perDoc, Seq("doc_id"), "left")
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double")).as("dup_frac"))
  }

  /** Historic position-packing width, kept only as the spec's
    * tokens-per-doc sanity bound: the canonical-occurrence key is a
    * (doc_id, pos) STRUCT since round 13 (the packed
    * `doc_id·2^bits + pos` long overflowed for ids ≥ 2^43), so no
    * operator headroom depends on this anymore.
    */
  val ScrubPosBits = 20

  /** ExactSubstr duplicate-span REMOVAL (Lee et al. 2022 §4 — the
    * operation [[dupSpans]] only measures): every corpus-duplicated
    * gram-span keeps its ONE canonical occurrence (globally first by
    * (doc_id, pos)) and every other occurrence's tokens are cut from
    * the text. The output is the scrubbed corpus — what actually feeds
    * training after substring dedup.
    *
    * Scale shape: one shingle-keyed partial-agg groupBy fuses the
    * duplicate filter AND the canonical pick (min over the encoded
    * (doc_id, pos) key — a plain `min`, never a window over posting
    * lists); occurrences re-join that 1-row-per-shingle table (AQE
    * skew-split handles a boilerplate shingle's hot posting list);
    * removed positions re-aggregate per doc (doc-length-bounded
    * arrays); reconstruction is a per-row array projection. No
    * windows, no self-joins, nothing driver-sized.
    *
    * Overlaps note (inherent to span scrubbing, same as the paper's
    * cuts): a canonical occurrence can still lose tokens to ANOTHER
    * shingle's non-canonical span overlapping it — so the guarantee is
    * "no duplicated span survives in full outside its canonical site",
    * not "canonical text is untouched". n_removed therefore never
    * exceeds dupSpans' n_covered (canonical spans are excluded).
    */
  def dupScrub(s: SparkSession, dir: String,
               gram: Int = 4, minCount: Long = 2): DataFrame = {
    require(gram >= 2, "a span needs at least 2 tokens")
    val base = Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
    val shingleExpr = {
      val terms = (0 until gram).map(k => s"ws[i+$k]").mkString(", ")
      expr(
        s"""CASE WHEN size(ws) >= $gram
           |THEN transform(sequence(0, size(ws) - $gram),
           |  i -> struct(i AS pos, concat_ws(' ', $terms) AS s))
           |ELSE array() END""".stripMargin)
    }
    val occ = base.select(col("doc_id"), explode(shingleExpr).as("sp"))
      .select(col("doc_id"), col("sp.pos").as("pos"), col("sp.s").as("s"))
    // canonical occurrence = lexicographic min of (doc_id, pos) AS A
    // STRUCT: the old `doc_id << ScrubPosBits | pos` packing overflows
    // long once doc_id exceeds 2^43 (found benching the key-shifted
    // sf1 staging, r13) — struct ordering is the same total order with
    // no headroom assumption on the id space
    val dup = occ.groupBy("s")
      .agg(count(lit(1)).as("c"),
        min(struct(col("doc_id"), col("pos"))).as("ck"))
      .filter(col("c") >= minCount)
      .select("s", "ck")
    val removed = occ.join(dup, "s")
      .filter(struct(col("doc_id"), col("pos")) =!= col("ck"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (gram - 1))).as("p"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("p"))).as("rp"))
    base.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        when(col("rp").isNull, lit(0L))
          .otherwise(size(col("rp")).cast("long")).as("n_removed"),
        expr(
          """CASE WHEN size(ws) = 0 THEN ''
            |ELSE concat_ws(' ', transform(
            |  array_except(sequence(0, size(ws) - 1), coalesce(rp, array())),
            |  i -> ws[i])) END""".stripMargin).as("text_scrubbed"))
  }

  /** TRUE ExactSubstr via SUFFIX-ARRAY ranking (round 17; VERDICT r16
    * #4 — Lee et al. 2022 §4.1's operator, not the fixed-gram
    * approximation): remove every MAXIMAL duplicated token span of
    * length >= k from the exact-collapsed corpus, matching the released
    * deduplicate-text-datasets semantics (every occurrence of a
    * duplicated span is cut — the tool scrubs both copies).
    *
    * The reduction that makes this exact AND distributed: a duplicated
    * span of length L >= k contains L − k + 1 duplicated k-windows and
    * is exactly their union (any substring of a duplicated string is
    * duplicated at the mirrored offset), so
    *   removed positions ≡ positions covered by a duplicated k-window,
    * and maximal spans fall out as the per-doc contiguous runs. The
    * k-window equivalence classes come from DISTRIBUTED PREFIX DOUBLING
    * (Manber–Myers suffix ranking, the pointer-jumping discipline of
    * Dedup.clustersFromEdges): rank_1 = token classes; rank_{2h}(p) =
    * class of (rank_h(p), rank_h(p+h)) — log2(k) rounds, each one
    * equi-join + partial-agg groupBy, no windows over posting lists, no
    * per-position k-gram strings EVER materialized (the fixed-gram
    * operator's k-fold blowup is exactly what the suffix discipline
    * avoids at 100 TB: state per round is one rank per position).
    * Per-document unique SENTINEL tokens terminate every suffix, so
    * class equality can never cross a document end (two docs sharing a
    * short tail are NOT a k-span dup) — suffixes with fewer than k real
    * tokens are class-singletons by construction.
    *
    * Rank ids are (doc_id, p) STRUCTS (class representative = min
    * member), never packed longs — the r13 overflow lesson.
    *
    * Output mirrors [[dupScrub]]: (doc_id, n_tokens, n_removed,
    * text_scrubbed), one row per collapsed (exact-dedup survivor) doc.
    */
  def dupScrubSa(s: SparkSession, dir: String, k: Int = 16,
                 minCount: Long = 2): DataFrame = {
    // coverage as PER-ROW ARRAY MATH over the duplicated k-window
    // starts (optimization r17, guide §2.4): the covered set is the
    // union of [s, s+k-1] ranges — dup-starts are duplication-bounded,
    // so expanding them per doc replaces the old corpus-wide
    // (join + range-frame window + collect_list re-sort) pipeline
    // (three full shuffles of every token) with one dup-bounded
    // groupBy and one broadcast-or-shuffle join back to `base`.
    // A dup start always has its full k-window inside the doc (a
    // suffix shorter than k splices the doc-unique sentinel and is a
    // class singleton), so no end-clipping is needed.
    val (base, starts) = saStarts(s, dir, k, minCount)
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("cov", when(col("starts").isNotNull, expr(
        s"array_distinct(flatten(transform(starts, s -> sequence(s, s + ${k - 1}))))"))
        .otherwise(expr("array()")))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        expr(
          """CASE WHEN size(ws) = 0 THEN ''
            |ELSE concat_ws(' ', transform(
            |  array_except(sequence(0, size(ws) - 1), cov),
            |  i -> ws[i])) END""".stripMargin).as("text_scrubbed"))
  }

  /** The measuring twin of [[dupScrubSa]] (the dupSpans ↔ dupScrub
    * relationship at suffix-array exactness): per collapsed doc, the
    * MAXIMAL duplicated spans ≥ k tokens as statistics — span count,
    * covered tokens, longest span. Maximal spans are the contiguous
    * runs of covered positions (gaps-and-islands over the coverage
    * frame); the suffix machinery is shared with the scrub.
    */
  def dupSpansSa(s: SparkSession, dir: String, k: Int = 16,
                 minCount: Long = 2): DataFrame = {
    // maximal spans = MERGED INTERVALS over the sorted dup-starts
    // (optimization r17): [s, s+k-1] ranges merge when the next start
    // is within end+1 — one per-row fold replaces the old
    // gaps-and-islands pipeline (corpus-wide coverage window +
    // row_number window + two groupBys). Same dup-bounded shape as
    // [[dupScrubSa]]'s coverage.
    val (base, starts) = saStarts(s, dir, k, minCount)
    val folded = expr(
      s"""aggregate(starts,
         |  named_struct('n', 0L, 'cov', 0L, 'mx', 0L,
         |               'cs', -999L, 'ce', -999L),
         |  (a, s) -> CASE WHEN s <= a.ce + 1L
         |    THEN named_struct('n', a.n, 'cov', a.cov, 'mx', a.mx,
         |           'cs', a.cs, 'ce', CAST(s + ${k - 1} AS BIGINT))
         |    ELSE named_struct('n', a.n + 1L,
         |           'cov', a.cov + IF(a.cs >= 0L, a.ce - a.cs + 1L, 0L),
         |           'mx', GREATEST(a.mx,
         |                   IF(a.cs >= 0L, a.ce - a.cs + 1L, 0L)),
         |           'cs', CAST(s AS BIGINT),
         |           'ce', CAST(s + ${k - 1} AS BIGINT)) END,
         |  a -> named_struct(
         |    'n', a.n,
         |    'cov', a.cov + IF(a.cs >= 0L, a.ce - a.cs + 1L, 0L),
         |    'mx', GREATEST(a.mx, IF(a.cs >= 0L, a.ce - a.cs + 1L, 0L))))
         |""".stripMargin)
    base.join(starts, Seq("doc_id"), "left")
      .withColumn("sp", when(col("starts").isNotNull, folded))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        coalesce(col("sp.n"), lit(0L)).as("n_spans"),
        coalesce(col("sp.cov"), lit(0L)).as("n_covered"),
        coalesce(col("sp.mx"), lit(0L)).as("max_span_len"))
  }

  /** The shared suffix-ranking core: (collapsed base docs, per-doc
    * SORTED duplicated-k-window start positions) — see
    * [[dupScrubSa]]'s scaladoc for the law.
    */
  private def saStarts(s: SparkSession, dir: String, k: Int,
                       minCount: Long): (DataFrame, DataFrame) = {
    require(k >= 2 && (k & (k - 1)) == 0,
      "k must be a power of two (prefix doubling lands exactly on k)")
    require(minCount >= 2,
      "singleton pruning freezes class reps; minCount below 2 is meaningless")
    // exact collapse first — the paper's pipeline order (ExactSubstr
    // runs after exact dedup; identical docs would otherwise mark every
    // token duplicated). Identical texts make min(doc_id) the survivor.
    val base = Tables.documents(s, dir)
      .groupBy(col("text")).agg(min("doc_id").as("doc_id"))
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
    val lens = base.select(col("doc_id"), size(col("ws")).as("len"))
    // SINGLETON PRUNING — the scale law that makes the ranking
    // duplication-bounded, not corpus-bounded: a class that is a
    // singleton at level h stays a singleton forever (levels only
    // REFINE classes), and its representative is frozen at ITSELF
    // (min of {p} = p), so pruned positions never need recomputing —
    // a right-side lookup that misses the ACTIVE frame reconstructs
    // the frozen rep as (doc_id, p+h) when the position exists, or
    // the shared past-end rep when it doesn't. The active frontier
    // after level h = positions whose h-token context is duplicated —
    // on organic text a steeply shrinking fraction, so later rounds
    // shuffle dup-candidate rows only. Each round localCheckpoints
    // (the frame is referenced twice per round — the clustersFromEdges
    // lineage discipline).
    // SEED at level 4 directly: one groupBy on the literal 4-token
    // window (tokens are space-free, so ' '-joined windows are
    // injective — the dupSpans shingle) replaces two doubling rounds;
    // windows shorter than 4 splice the doc-unique sentinel (a
    // NUL-prefixed token no whitespace-split text produces), which
    // preserves the class law (short suffixes distinguish by doc and
    // by distance-to-end exactly as at level 1). Base must divide k.
    // Contexts are built PER ROW from the token array (optimization
    // r17, guide §2.4): ctx(p) = ' '-join of wsx[p..p+seed-1] over
    // wsx = ws ++ [sentinel] — plain array indexing (out-of-range
    // reads are NULL and concat_ws skips them, which is exactly the
    // old stream-window's clipping), replacing the old token-stream
    // window (an Exchange by doc_id + full corpus sort just to look
    // ahead 3 tokens) with a whole-stage-codegen projection. Class
    // rep and size then come from ONE window over the ctx partition:
    // the old groupBy-then-join-back evaluated the context projection
    // twice and exchanged it twice.
    val seed = math.min(4, k)
    val wCtx = org.apache.spark.sql.expressions.Window.partitionBy("ctx")
    var active = base
      .select(col("doc_id"), concat(col("ws"),
        array(concat(lit("\u0000#"), col("doc_id")))).as("wsx"))
      .select(col("doc_id"), col("wsx"),
        posexplode(col("wsx")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p"), concat_ws(" ",
        (0 until seed).map(i => get(col("wsx"), col("p") + i)): _*)
        .as("ctx"))
      .withColumn("rank", min(struct(col("doc_id"), col("p"))).over(wCtx))
      .withColumn("csz", count(lit(1)).over(wCtx))
      .filter(col("csz") >= 2)
      .select(col("doc_id"), col("p"), col("rank"), col("csz"))
      .localCheckpoint()
    var h = seed
    while (h < k) {
      val right = active.select(col("doc_id"), (col("p") - h).as("p"),
        col("rank").as("r2"))
      val paired = active.join(right, Seq("doc_id", "p"), "left")
        .join(broadcast(lens), Seq("doc_id"))
        .withColumn("pr", struct(col("rank").as("a"),
          coalesce(col("r2"),
            when(col("p") + h <= col("len"),
              struct(col("doc_id").as("doc_id"), (col("p") + h).as("p")))
              .otherwise(
                struct(lit(-1L).as("doc_id"), lit(-1).as("p")))).as("b")))
      // class rep/size via ONE window over the pr partition (same
      // single-evaluation argument as the seed phase)
      val wPr = org.apache.spark.sql.expressions.Window.partitionBy("pr")
      active = paired
        .withColumn("nrank", min(struct(col("doc_id"), col("p"))).over(wPr))
        .withColumn("csz2", count(lit(1)).over(wPr))
        .filter(col("csz2") >= 2)
        .select(col("doc_id"), col("p"), col("nrank").as("rank"),
          col("csz2").as("csz"))
        .localCheckpoint()
      h *= 2
    }
    // duplicated k-window starts = surviving classes with >= minCount
    // members, aggregated to ONE SORTED ARRAY PER DOC — a
    // duplication-bounded groupBy; the consumers derive coverage /
    // maximal spans with per-row array math (the old corpus-wide
    // k-range window over every token is gone)
    val starts = active.filter(col("csz") >= minCount)
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("starts"))
    (base, starts)
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text,
    * plus cluster stats per fingerprint.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
        .as("fp"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))

  /** Gopher-style repetition metrics — the published pretraining
    * quality-filter family (Rae et al. 2021 §A1.1: duplicate-n-gram and
    * most-common-word fractions flag boilerplate/spam): per doc,
    * duplicate word fraction, duplicate bigram fraction, and the top
    * word's share of all words. Word/bigram distinctness stays inline
    * (array builtins, zero shuffle); the top-word count is the one
    * genuinely aggregating piece (explode + two partial-agg groupBys on
    * doc_id — the same shuffle shape as simhash). All fractions are
    * exact-integer ratios lowered to double, so the oracle matches
    * bit-for-bit.
    */
  /** Word-distribution Shannon entropy per document (natural log) — the
    * classic gibberish/boilerplate signal: low entropy = repetitive
    * boilerplate, implausibly high = random token soup. Computed as
    * H = ln(n) − (Σ c·ln c)/n over the per-doc word counts, so the only
    * libm calls are ln of INTEGERS — each quantized to 12 decimals once
    * (the lmScore contract), with the Σ c·ln c accumulation in exact
    * decimal (order-independent) and the final subtraction/division
    * plain IEEE both engines share. Two partial-agg groupBys on
    * (doc, word) then doc — no joins, no windows; empty docs keep a
    * defined 0 entropy.
    */
  /** Corpus n-gram NOVELTY (round 12) — the curation signal the
    * shingle family doesn't yet expose: the fraction of a document's
    * distinct 3-gram shingles that appear in NO other distinct content
    * (novelty 0 = everything in the doc exists elsewhere — boilerplate
    * and near-dup survivors; novelty 1 = entirely fresh text). Shape is
    * collapse-first like the rest of the family: shingles are derived
    * once per DISTINCT content, the corpus shingle frequency is a
    * shingle-keyed partial agg (uniform md5-shaped key, no skew), and
    * docs inherit their content's score through the chash join — work
    * is O(distinct contents × shingles), never O(docs²). Docs with
    * < 3 words have no shingles and are excluded (no defined novelty),
    * matching the oracle's inner join.
    */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(s, dir)
      .groupBy(unhex(md5(col("text"))).as("chash"))
      .agg(min("text").as("text"))
    // distinct (content, shingle) pairs with 16-byte binary keys (same
    // identities as the hex strings at a third of the shuffle bytes,
    // guide §2.3); the per-shingle content frequency is ONE window over
    // the same pass — the old groupBy + join-back re-ran the whole
    // shingle explode for the count side (optimization r18, guide §2.4)
    val sh = c.select(col("chash"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("chash"), explode(Dedup.shinglesOf("ws")).as("sh"))
      .select(col("chash"), unhex(md5(col("sh"))).as("h"))
      .distinct()
    val wf = org.apache.spark.sql.expressions.Window.partitionBy("h")
    val per = sh.withColumn("n_contents", count(lit(1)).over(wf))
      .groupBy("chash")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("n_contents") >= 2, 1L).otherwise(0L)).as("n_shared"))
    Tables.documents(s, dir)
      .select(col("doc_id"), unhex(md5(col("text"))).as("chash"))
      .join(per, "chash")
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        (lit(1.0) - col("n_shared").cast("double") /
          col("n_shingles").cast("double")).as("novelty"))
  }

  def entropy(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), explode(words).as("w"))
    val cf = toks.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
    // c < 10^6 (a doc's tokens): (6,0) × (28,12) = (35,12), inside
    // decimal's 38-digit exactness
    val perDoc = cf.groupBy("doc_id").agg(
      sum("c").as("n_tokens"),
      sum(col("c").cast("decimal(6,0)") *
        round(log(col("c").cast("double")), 12).cast("decimal(28,12)"))
        .as("clogc"))
    Tables.documents(s, dir).select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        when(col("n_tokens").isNull, lit(0.0))
          .otherwise(round(log(col("n_tokens").cast("double")), 12) -
            col("clogc").cast("double") / col("n_tokens").cast("double"))
          .as("entropy"))
  }

  /** PII detection + redaction — the privacy scrub every pretraining
    * pipeline runs before training. The synthetic corpus carries no
    * natural PII, so the operator DETERMINISTICALLY INJECTS it first
    * (every 3rd doc an email, every 5th an IPv4 — plain doc_id
    * arithmetic the oracle mirrors): the detection counts and the
    * md5 of the redacted text then prove the regex machinery on every
    * row, not on an all-zero corpus.
    *
    * Regex contract (the q_scan_regex rule): explicit character
    * classes and bounded quantifiers only — no alternation ordering,
    * no backreferences — so Java regex (Spark) and RE2 (DuckDB) match
    * identically. Pure projection: zero shuffle at any corpus size.
    */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), expr("(doc_id div 256) % 256").cast("string")))
        .otherwise(lit("")))
    Tables.documents(s, dir)
      .select(col("doc_id"), aug.as("t"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailRe), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(col("t"), lit(ipRe), lit(0)))
          .cast("long").as("n_ips"),
        md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
          ipRe, "<IP>")).as("scrubbed_hash"))
  }

  def repetition(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
    val arr = d.select(
      col("doc_id"),
      size(col("ws")).cast("long").as("n_words"),
      size(array_distinct(col("ws"))).cast("long").as("n_distinct_words"),
      expr(
        """CASE WHEN size(ws) >= 2
          |THEN transform(sequence(0, size(ws) - 2),
          |  i -> concat(ws[i], ' ', ws[i+1]))
          |ELSE array() END""".stripMargin).as("bg"))
      .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
        size(col("bg")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("n_distinct_bigrams"))
    val top = d.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_word_count"))
    // greatest(·,1): empty docs yield 0-fractions, not a divide error
    val denomW = greatest(col("n_words"), lit(1L)).cast("double")
    arr.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (lit(1.0) - col("n_distinct_words").cast("double") / denomW)
          .as("dup_word_frac"),
        when(col("n_bigrams") > lit(0L),
          lit(1.0) - col("n_distinct_bigrams").cast("double")
            / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("dup_bigram_frac"),
        (coalesce(col("top_word_count"), lit(0L)).cast("double") / denomW)
          .as("top_word_frac"))
  }

  /** Gopher word-count lower bound (Rae et al. 2021 use 50; the upper
    * bound is 100k).
    */
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L

  /** The REMAINING Gopher quality rules (Rae et al. 2021 §A1.1) not
    * already covered by [[repetition]]/[[quality]]/[[filterVerdict]]:
    * word-count bounds [50, 100k], mean-word-length bounds [3, 10],
    * ≥80% of words containing an alphabetic character, the ≥2-stopword
    * requirement, and top-bigram share ≤ 0.18. Every rule is an
    * INTEGER-ONLY comparison — fractions are cross-multiplied (mean
    * word length in [3,10] is `3n ≤ Σ|w| ≤ 10n`; the 0.18 share is
    * `100·top ≤ 18·(n−1)`) — so the verdict is exact cross-engine with
    * no float threshold to drift.
    *
    * Scale shape: per-row projections (Σ|w| is `translate(text,' ','')`
    * length — no explode) plus the one genuinely aggregating piece, the
    * top-bigram count: explode + two partial-agg groupBys keyed by doc
    * (the [[repetition]] shuffle shape), then a doc-keyed equi join. No
    * windows, no self-joins — embarrassingly parallel at any corpus
    * size.
    */
  def gopherRules(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), words.as("ws"))
    val base = d.select(
      col("doc_id"),
      size(col("ws")).cast("long").as("n_words"),
      length(translate(col("text"), " ", "")).cast("long").as("sum_wlen"),
      expr("size(filter(ws, w -> w rlike '[A-Za-z]'))")
        .cast("long").as("n_alpha"),
      size(array_intersect(col("ws"),
        array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to"),
          lit("in")))).cast("long").as("n_stop"))
    val top = d.select(col("doc_id"),
        explode(expr(
          """CASE WHEN size(ws) >= 2
            |THEN transform(sequence(0, size(ws) - 2),
            |  i -> concat(ws[i], ' ', ws[i+1]))
            |ELSE array() END""".stripMargin)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_cnt"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("sum_wlen"),
        col("n_alpha"), col("n_stop"),
        coalesce(col("top_bigram_cnt"), lit(0L)).as("top_bigram_cnt"))
      .withColumn("r_words",
        col("n_words") >= GopherMinWords && col("n_words") <= GopherMaxWords)
      .withColumn("r_wlen",
        lit(3L) * col("n_words") <= col("sum_wlen") &&
          col("sum_wlen") <= lit(10L) * col("n_words"))
      .withColumn("r_alpha", lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"))
      .withColumn("r_stop", col("n_stop") >= 2L)
      .withColumn("r_bigram",
        col("n_words") < 2L ||
          lit(100L) * col("top_bigram_cnt") <= lit(18L) * (col("n_words") - 1L))
      .withColumn("keep",
        col("r_words") && col("r_wlen") && col("r_alpha") &&
          col("r_stop") && col("r_bigram"))
  }

  /** Deterministic hash-based train/val/test split — the stratified
    * assignment every training pipeline needs: bucket = first 4 hex
    * nibbles of md5(doc_id) mod 100, stable across engines, runs, and
    * partitionings (no rand(), no row_number over an implicit order —
    * both are nondeterministic under re-partitioning at scale).
    * Sampling N% of the corpus is a filter on the bucket; adding data
    * never reassigns existing docs.
    */
  def sampleSplit(s: SparkSession, dir: String,
                  trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      "percentages must fit in [0, 100]")
    Tables.documents(s, dir)
      .select(col("doc_id"), splitBucketCol(col("doc_id")).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        splitOfBucket(col("bucket"), trainPct, valPct).as("split"))
  }

  /** The split's bucket / label as COLUMN expressions — split is a pure
    * function of doc_id, so a consumer that already scans documents can
    * project it instead of self-joining [[sampleSplit]] back on (one
    * scan + one join less; optimization r18, guide §2.4).
    */
  private[pipeline] def splitBucketCol(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 4), 16, 10)
      .cast("long") % 100L

  private[pipeline] def splitOfBucket(bucket: Column,
                                      trainPct: Int = 80,
                                      valPct: Int = 10): Column =
    when(bucket < trainPct, "train")
      .when(bucket < trainPct + valPct, "val")
      .otherwise("test")

  val ChunkSize = 64
  val ChunkStride = 32

  /** Sliding-window chunking — the retrieval-indexing side of the
    * pipeline: each document becomes overlapping word windows of
    * `chunkSize` tokens at `stride` spacing (stride < size ⇒ overlap,
    * the standard RAG chunking shape), with start offset and true token
    * count per chunk. A document always yields ≥ 1 chunk (an empty doc
    * yields one empty chunk), trailing windows are the natural
    * remainders — both rules kept deliberately simple so the oracle is
    * the same arithmetic. Pure projection + explode: no shuffle at any
    * corpus size, and the explode factor is n_tokens/stride — bounded
    * per document, never corpus-quadratic.
    */
  def chunks(s: SparkSession, dir: String, chunkSize: Int = ChunkSize,
             stride: Int = ChunkStride): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    Tables.documents(s, dir)
      .select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"),
        explode(expr(s"sequence(0, greatest(size(ws) - 1, 0), $stride)")).as("st"),
        col("ws"))
      .select(col("doc_id"),
        (col("st") / lit(stride)).cast("long").as("chunk_id"),
        col("st").cast("long").as("start_tok"),
        expr(s"concat_ws(' ', slice(ws, st + 1, $chunkSize))").as("chunk"),
        expr(s"CAST(size(slice(ws, st + 1, $chunkSize)) AS BIGINT)")
          .as("n_chunk_tokens"))
  }

  /** Default per-language top-k for [[bigrams]]. */
  val BigramTopK = 20

  /** Corpus bigram statistics: the top-k adjacent word pairs per
    * language — the n-gram frequency table an LM-data pipeline keeps
    * for contamination screens, quality priors, and tokenizer prep.
    * Bigram generation is a pure projection + explode (zero shuffle,
    * explode factor = tokens−1 per doc, bounded by document length);
    * the count is one partial-agg shuffle on (lang, bigram); the top-k
    * leg runs on the native TopKPerKey operator, so the rank shuffle
    * carries O(langs · k · partitions) pre-pruned rows, not the full
    * bigram vocabulary. Ties break deterministically on the bigram
    * string.
    */
  def bigrams(s: SparkSession, dir: String,
              k: Int = BigramTopK): DataFrame = {
    require(k > 0, "k must be positive")
    val counts = Tables.documents(s, dir)
      .select(col("lang"), words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))"))
        .as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n"))
    graft.plans.TopK.perKey(counts, Seq(col("lang")),
      Seq(col("n").desc, col("bigram").asc), k)
      .select(col("lang"), col("bigram"), col("n"), col("rnk"))
  }

  /** Collocation floor: bigrams seen fewer times carry no PMI signal
    * (and make the estimate unstable — the standard min-count gate).
    */
  val CollocMinCount = 5L
  /** Collocations the PMI entry reports. */
  val CollocK = 100

  /** PMI collocation mining (Church & Hanks 1990): adjacent word pairs
    * ranked by pointwise mutual information — the phrase-detection
    * pass (word2vec's phrase pre-join, tokenizer multi-word-unit prep)
    * a pretraining pipeline runs over its corpus. PMI = ln P(w1,w2) −
    * ln P(w1) − ln P(w2) with P from corpus counts: every ln argument
    * is an INTEGER count (each quantized at 12 — the lm_score ln
    * contract), the five quantized terms sum exactly in
    * decimal(28,12), and one final cast to double is shared IEEE —
    * bit-identical cross-engine.
    *
    * Scale shape: bigram explode is a zero-shuffle projection; counts
    * are two partial-agg groupBys (bigram-keyed and unigram-keyed);
    * the unigram table is VOCABULARY-sized, so both probability joins
    * broadcast; corpus totals ride a one-row broadcast cross join. The
    * final top-K is orderBy+limit = TakeOrdered (per-partition top-K,
    * driver merges K·partitions rows) — never a global sort. Nothing
    * after the two partial aggs is corpus-sized.
    */
  def collocations(s: SparkSession, dir: String,
                   minCount: Long = CollocMinCount,
                   k: Int = CollocK): DataFrame = {
    require(k > 0 && minCount >= 1, "k and minCount must be positive")
    def qln(c: Column): Column =
      round(log(c.cast("double")), 12).cast("decimal(28,12)")
    val pairs = Tables.documents(s, dir)
      .select(words.as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i + 1] AS w2))"))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val big = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val uni = Tables.documents(s, dir)
      .select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val totals = big.agg(sum("n_pair").as("b"))
      .crossJoin(uni.agg(sum("n_w").as("u")))
    val scored = big.filter(col("n_pair") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("n_w").as("c1"))), "w1")
      .join(broadcast(uni.select(col("w").as("w2"), col("n_w").as("c2"))), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        (qln(col("n_pair")) + qln(col("u")) + qln(col("u"))
          - qln(col("b")) - qln(col("c1")) - qln(col("c2")))
          .cast("double").as("pmi"))
    scored.orderBy(col("pmi").desc, col("w1").asc, col("w2").asc).limit(k)
  }

  /** Winnowing window width (consecutive gram hashes per min-pick). */
  val WinnowW = 4
  /** Pairs the winnow-match entry reports. */
  val WinnowPairsK = 50
  /** Posting-list cap the `_capped` winnow-pairs entry pins: drop
    * fingerprints shared by more than this many distinct contents
    * (at sf0.01 this drops the 25 hottest of ~7k fingerprints —
    * enough that the oracle hash proves the cap path, not a no-op).
    */
  val WinnowMaxPostings = 4L

  /** WINNOWING document fingerprints (Schleimer et al. 2003, the MOSS
    * local-fingerprinting algorithm): hash every word 3-gram, slide a
    * width-`WinnowW` window over the hash sequence, keep each window's
    * MINIMUM hash — the guarantee rolling/bottom-k sketches lack: any
    * shared run of ≥ w + 2 words between two documents shares at least
    * one fingerprint, with density 2/(w+1) instead of whole-document
    * luck. Hashes are md5-hex prefixes, so "minimum" is lexicographic
    * — identical in Spark, DuckDB, and the JVM, no numeric conversion.
    *
    * Shuffle-free: grams, hashes, window minima, and the fingerprint
    * set are per-row array transforms inside whole-stage codegen; the
    * only exchange is the final nothing (one scan, no groupBy).
    */
  def winnow(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), words.as("ws"))
      .withColumn("grams", graft.pipeline.Dedup.shinglesOf("ws"))
      .withColumn("h", expr("transform(grams, g -> substring(md5(g), 1, 8))"))
      // filter(… IS NOT NULL): a <3-word doc has NO grams, so the one
      // window min is null — DuckDB's list_distinct strips nulls, Spark's
      // array_distinct keeps them; dropping them here keeps n_fp = 0 on
      // both engines (winnow_fp already agrees: concat_ws skips nulls)
      .withColumn("fps", expr(
        s"""filter(array_distinct(transform(
           |  sequence(1, greatest(size(h) - $WinnowW + 1, 1)),
           |  j -> array_min(slice(h, j, $WinnowW)))), x -> x IS NOT NULL)""".stripMargin))
      .select(col("doc_id"),
        size(col("h")).cast("long").as("n_grams"),
        size(col("fps")).cast("long").as("n_fp"),
        md5(concat_ws("", array_sort(col("fps")))).as("winnow_fp"))

  /** Document pairs sharing winnowing fingerprints — the match surface
    * MOSS reports: top pairs by shared-fingerprint count. COLLAPSE-
    * FIRST (the round-8 soak law, re-proven here: the doc-level join
    * ran 534 s at 100× duplication because exact copies share EVERY
    * fingerprint — posting lists grow with copy count, pairs with its
    * square): pairs run over DISTINCT contents from the shared
    * exact-dedup store, keyed by representative doc ids; within-group
    * duplicate pairs are dedup_exact's domain, not a match signal.
    * The self-join then keys on fingerprint hashes whose posting lists
    * the winnowing density bound keeps short — for ORGANIC text. The
    * bound says nothing about a fingerprint's CORPUS frequency: one
    * boilerplate 3-gram run (a license header, a nav bar) shared by F
    * distinct contents makes an F-long posting list and F²/2 candidate
    * pairs from that single key. `maxPostings` is the hot-key lever
    * (the doc_contamination_capped precedent): fingerprints held by
    * more than that many distinct contents are dropped before the
    * self-join — a fingerprint that matches everything identifies
    * nothing, exactly like a ubiquitous contamination shingle, while
    * genuinely shared passages keep their other (rarer) fingerprints.
    * 0 (the default, what the uncapped oracle pins) keeps every key.
    */
  def winnowPairs(s: SparkSession, dir: String,
                  k: Int = WinnowPairsK,
                  maxPostings: Long = 0L): DataFrame = {
    // the collapsed store lands as ONE partition at test SFs (AQE
    // coalesce), so the gram-md5 + window-min chain below ran single-
    // task; spread THIS consumer's slice (scale-adaptive no-op at
    // production partition counts — guide §2.5). UNCAPPED only: the
    // capped entry's three-consumer plan measured ~25% worse under the
    // task inflation (1.03x -> 1.2-1.5x its lock across three scoped
    // runs), while the uncapped pair join measured 1.8 -> 1.1-1.2 s.
    // The store itself stays unspread for the same reason (its small
    // consumers regressed under a store-wide spread).
    val cBase =
      if (maxPostings <= 0L)
        Tables.spreadSmallScan(s, graft.pipeline.Dedup.collapsed(s, dir), "cid")
      else graft.pipeline.Dedup.collapsed(s, dir)
    val fpAll0 = cBase
      .select(col("cid").as("doc_id"), words.as("ws"))
      .withColumn("grams", graft.pipeline.Dedup.shinglesOf("ws"))
      .withColumn("h", expr("transform(grams, g -> substring(md5(g), 1, 8))"))
      // same null-strip as [[winnow]]: a gram-less doc must emit NO
      // posting rows (DuckDB's unnest of the null-stripped list), not
      // one null-fp row
      .select(col("doc_id"), explode(expr(
        s"""filter(array_distinct(transform(
           |  sequence(1, greatest(size(h) - $WinnowW + 1, 1)),
           |  j -> array_min(slice(h, j, $WinnowW)))), x -> x IS NOT NULL)""".stripMargin)).as("fp"))
    // BOTH paths read the posting list at least twice (the self-join
    // sides; the capped path adds the per-fp count) — materialize the
    // narrow (doc_id, fp) sketch once instead of re-running the gram
    // md5 + window-min chain per consumer (optimization r18; the
    // uncapped entry previously paid the per-row chain twice)
    val fpAll = fpAll0.localCheckpoint()
    val fp =
      if (maxPostings <= 0L) fpAll
      else {
        // posting rows are distinct per (doc, fp) already, so the
        // per-fp count IS the posting-list length; the cap survives as
        // a semi-join on the (small) surviving-key set
        val keep = fpAll.groupBy("fp").agg(count(lit(1)).as("n"))
          .filter(col("n") <= maxPostings).select("fp")
        fpAll.join(keep, Seq("fp"), "left_semi")
      }
    fp.select(col("doc_id").as("a"), col("fp"))
      .join(fp.select(col("doc_id").as("b"), col("fp")), "fp")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .orderBy(col("n_shared").desc, col("a").asc, col("b").asc)
      .limit(k)
  }
}
