package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.TextAnalysis
import SparkFixture.{sf, spark}

class TextAnalysisSpec extends AnyFunSuite {

  test("novelty: bounds, duplicate contents share scores, exact duplicates score 0") {
    val df = TextAnalysis.novelty(spark, sf)
    assert(df.count() > 0)
    assert(df.filter(col("novelty") < 0.0 || col("novelty") > 1.0).count() === 0)
    assert(df.filter(col("n_shared") > col("n_shingles")).count() === 0)
    // duplicate contents get identical (n_shingles, n_shared, novelty)
    val byContent = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("chash"))
      .join(df, "doc_id")
      .groupBy("chash")
      .agg(countDistinct("novelty").as("k"), count(lit(1)).as("n"))
    assert(byContent.filter(col("k") =!= 1).count() === 0)
    // the boundary is exact, not approximate: all-shared docs score
    // exactly 0.0 (1.0 - n/n leaves no float residue)
    val allShared = df.filter(col("n_shared") === col("n_shingles"))
    assert(allShared.filter(col("novelty") =!= 0.0).count() === 0)
  }

  test("tokens matches a Scala-side recount on a sample") {
    val docs = Tables.documents(spark, sf).limit(20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val got = TextAnalysis.tokens(spark, sf)
      .filter(col("doc_id").isin(docs.keys.toSeq: _*)).collect()
    got.foreach { r =>
      val text = docs(r.getLong(0))
      assert(r.getLong(1) === text.split(" ").count(_.nonEmpty).toLong)
      assert(r.getLong(2) ===
        "[A-Za-z0-9]+|[^A-Za-z0-9 ]".r.findAllIn(text).size.toLong, "bpe count")
      assert(r.getLong(3) === text.length.toLong)
    }
  }

  test("quality scores are in [0,1] and banded consistently") {
    val df = TextAnalysis.quality(spark, sf)
    assert(df.filter(col("score") < 0 || col("score") > 1).count() === 0)
    assert(df.filter(col("quality_band") === "high" && col("score") < 0.8).count() === 0)
    assert(df.filter(col("quality_band") === "low" && col("score") >= 0.5).count() === 0)
    assert(df.count() === Tables.documents(spark, sf).count())
  }

  test("langId predictions come from the known label set") {
    val df = TextAnalysis.langId(spark, sf)
    val langs = df.select("predicted").distinct().collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("en", "fr", "de", "es", "und")))
    // the synthetic corpus shares one vocabulary across langs, so accuracy
    // is meaningless here — verify the vote computation instead.
    val texts = Tables.documents(spark, sf).limit(10).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val got = df.filter(col("doc_id").isin(texts.keys.toSeq: _*)).collect()
    got.foreach { r =>
      val words = texts(r.getLong(0)).split(" ").filter(_.nonEmpty)
      assert(r.getLong(1) === words.count(Set("the", "a", "of", "and")).toLong, "v_en")
      assert(r.getLong(2) === words.count(Set("le", "la", "et", "les")).toLong, "v_fr")
      assert(r.getBoolean(7) === (r.getString(5) == r.getString(6)), "correct flag")
    }
  }

  test("rolling fingerprint is edit-tolerant where whole-doc hash is not") {
    val fp = TextAnalysis.rollingFingerprint(spark, sf)
    assert(fp.count() === Tables.documents(spark, sf).count())
    assert(fp.filter(col("rolling_fp").isNull).count() === 0)
    // exact duplicates must share the rolling fingerprint too
    val dups = graft.pipeline.Dedup.exact(spark, sf).filter(col("n_copies") > 1)
    if (dups.count() > 0) {
      val sameText = Tables.documents(spark, sf)
        .groupBy("text").agg(collect_list("doc_id").as("ids"))
        .filter(size(col("ids")) > 1)
        .select(explode(col("ids")).as("doc_id"), md5(col("text")).as("h"))
      val j = sameText.join(fp, "doc_id")
        .groupBy("h").agg(countDistinct("rolling_fp").as("nfp"))
      assert(j.filter(col("nfp") > 1).count() === 0)
    }
  }

  test("fingerprint clusters cover all docs; whitespace variants collapse") {
    val df = TextAnalysis.fingerprint(spark, sf)
    assert(df.agg(sum("n_docs")).collect()(0).getLong(0) ===
      Tables.documents(spark, sf).count())
  }

  test("repetition matches a Scala-side recount on a sample") {
    val docs = Tables.documents(spark, sf).limit(20).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val got = TextAnalysis.repetition(spark, sf)
      .filter(col("doc_id").isin(docs.keys.toSeq: _*)).collect()
    assert(got.length === docs.size)
    got.foreach { r =>
      val ws = docs(r.getAs[Long]("doc_id")).split(" ").filter(_.nonEmpty)
      val bg = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val topCount = if (ws.isEmpty) 0L
        else ws.groupBy(identity).values.map(_.length).max.toLong
      assert(r.getAs[Long]("n_words") === ws.length.toLong)
      assert(r.getAs[Double]("dup_word_frac") ===
        1.0 - ws.distinct.length.toDouble / math.max(ws.length, 1))
      assert(r.getAs[Double]("dup_bigram_frac") ===
        (if (bg.isEmpty) 0.0 else 1.0 - bg.distinct.length.toDouble / bg.length))
      assert(r.getAs[Double]("top_word_frac") ===
        topCount.toDouble / math.max(ws.length, 1))
    }
    // the synthetic word-salad corpus is exactly what these filters
    // flag: heavy duplicate mass must be visible
    val stats = TextAnalysis.repetition(spark, sf)
      .agg(avg("dup_word_frac"), avg("top_word_frac")).collect()(0)
    assert(stats.getDouble(0) > 0.3, "dup_word_frac should flag the salad corpus")
    assert(stats.getDouble(1) > 0.05)
  }

  test("hash split is deterministic, complete, and filter-stable") {
    val a = TextAnalysis.sampleSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    val b = TextAnalysis.sampleSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(a.sameElements(b))
    assert(a.length === Tables.documents(spark, sf).count())
    assert(a.forall(t => t._2 >= 0 && t._2 < 100))
    // buckets follow md5, so all three splits are populated at 500 docs
    val bySplit = a.groupBy(_._3).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    assert(bySplit("train") > bySplit("test"))
    // sampling-as-filter: bucket < 10 is a stable 10%-ish subsample
    val sampled = a.count(_._2 < 10)
    assert(sampled > 0 && sampled < a.length / 5)
    // custom percentages relabel without moving buckets
    val c = TextAnalysis.sampleSplit(spark, sf, trainPct = 50, valPct = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(c.map(_._2).sameElements(a.map(_._2)))
  }

  test("chunks reassemble their documents and respect size/stride") {
    val docs = Tables.documents(spark, sf).limit(30).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val byDoc = TextAnalysis.chunks(spark, sf)
      .filter(col("doc_id").isin(docs.keys.toSeq: _*)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))
      .groupBy(_._1)
    docs.foreach { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val cs = byDoc(id).sortBy(_._2)
      // start grid is 0, stride, 2*stride, ... while start < n (or just [0])
      val expStarts =
        0L to math.max(ws.length - 1, 0).toLong by TextAnalysis.ChunkStride.toLong
      assert(cs.map(_._3).toSeq === expStarts.toSeq, s"doc $id starts")
      cs.foreach { case (_, cid, st, chunk, n) =>
        val exp = ws.slice(st.toInt, st.toInt + TextAnalysis.ChunkSize)
        assert(chunk === exp.mkString(" "), s"doc $id chunk $cid")
        assert(n === exp.length.toLong)
        assert(cid === st / TextAnalysis.ChunkStride)
      }
      // stride-gap concatenation of non-overlapping halves rebuilds the doc:
      // every token appears in the chunk whose window first covers it
      val rebuilt = cs.flatMap { case (_, _, st, chunk, _) =>
        chunk.split(" ").filter(_.nonEmpty).take(TextAnalysis.ChunkStride)
      }
      assert(rebuilt.toSeq === ws.toSeq, s"doc $id rebuild")
    }
  }

  test("bigrams: top-k per lang on TopKPerKey, counts conserve the corpus") {
    import org.apache.spark.sql.functions._
    val df = TextAnalysis.bigrams(spark, sf).localCheckpoint()
    // at most k rows per lang, ranks are 1..n without holes
    val k = TextAnalysis.BigramTopK
    assert(df.groupBy("lang").count().filter(col("count") > k).count() === 0)
    val badRank = df.groupBy("lang")
      .agg(max("rnk").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n"))
    assert(badRank.count() === 0)
    // the count of a reported bigram equals a direct recount
    val direct = Tables.documents(spark, sf)
      .select(col("lang"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat(ws[i], ' ', ws[i + 1]))"))
        .as("bigram"))
      .groupBy("lang", "bigram").agg(count(lit(1)).as("n2"))
    val mismatch = df.join(direct, Seq("lang", "bigram"))
      .filter(col("n") =!= col("n2"))
    assert(mismatch.count() === 0)
    // rank leg runs on the native operator, not a window sort
    val plan = SparkFixture.planOf(TextAnalysis.bigrams(spark, sf))
    assert("""\(\d+\) Window""".r.findAllIn(plan).isEmpty, plan)
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("dupScrub equals a driver-side canonical-span scrub replay") {
    import org.apache.spark.sql.functions._
    val gram = 4
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .sortBy(_._1)
    assert(docs.forall(_._2.length < (1 << TextAnalysis.ScrubPosBits)))
    // reference: all shingle occurrences, canonical = global (doc,pos)
    // min per duplicated shingle, every other occurrence's positions cut
    val occ = docs.flatMap { case (id, ws) =>
      (0 to ws.length - gram).map(i => (ws.slice(i, i + gram).mkString(" "), id, i))
    }
    val canonical = occ.groupBy(_._1).collect {
      case (s, os) if os.length >= 2 => s -> os.map(o => (o._2, o._3)).min
    }
    val removedRef = occ.filter { case (s, id, p) =>
      canonical.get(s).exists(_ != ((id, p)))
    }.flatMap { case (_, id, p) => (p until p + gram).map(id -> _) }
      .toSet
    val got = TextAnalysis.dupScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    docs.foreach { case (id, ws) =>
      val rp = removedRef.collect { case (d, p) if d == id => p }
      val want = ws.zipWithIndex.collect {
        case (w, i) if !rp(i) => w
      }.mkString(" ")
      val (nTok, nRem, scrubbed) = got(id)
      assert(nTok === ws.length.toLong, s"doc $id")
      assert(nRem === rp.size.toLong, s"doc $id")
      assert(scrubbed === want, s"doc $id")
    }
    // the scrub is a strict sub-removal of dupSpans' covered positions
    // (canonical occurrences stay), and something was actually removed
    val covered = TextAnalysis.dupSpans(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    got.foreach { case (id, (_, nRem, _)) =>
      assert(nRem <= covered(id), s"doc $id removed beyond covered")
    }
    assert(got.values.map(_._2).sum > 0, "corpus has dup spans; scrub removed none")
  }

  test("suffix-array ExactSubstr: equals a brute-force window replay; fixed-gram scrub is a strict subset") {
    // VERDICT r16 #4. Brute-force TRUTH on the collapsed corpus: every
    // 16-token window, duplicated windows cover their positions — the
    // removed set the suffix-ranking operator must reproduce, and the
    // superset of the fixed-gram scrub's removed set (fixed-gram keeps
    // each duplicated window's canonical occurrence; the paper's
    // operator cuts every occurrence).
    val k = 16
    val collapsed = Tables.documents(spark, sf)
      .groupBy(col("text")).agg(min("doc_id").as("doc_id"))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
      .toMap
    // all k-windows with their global (doc, pos) occurrences
    val occ = scala.collection.mutable.Map.empty[Seq[String], List[(Long, Int)]]
    for ((d, ws) <- collapsed; i <- 0 to ws.length - k)
      occ.updateWith(ws.slice(i, i + k).toSeq)(o =>
        Some((d, i) :: o.getOrElse(Nil)))
    val dupOcc = occ.values.filter(_.size >= 2)
    // SA semantics: every occurrence covers
    val removedSa = dupOcc.flatten
      .flatMap { case (d, i) => (i until i + k).map(d -> _) }.toSet
    // fixed-gram semantics: the canonical (min (doc,pos)) survives
    val removedFixed = dupOcc.flatMap { os =>
      val ck = os.minBy(identity)
      os.filterNot(_ == ck)
    }.flatMap { case (d, i) => (i until i + k).map(d -> _) }.toSet
    assert(removedFixed.subsetOf(removedSa),
      "fixed-gram scrub must remove a subset of the suffix-array scrub")
    assert(removedFixed.size < removedSa.size,
      "the containment must be strict on a corpus with duplicated spans")
    assert(removedSa.nonEmpty, "fixture must contain >=16-token dup spans")
    // the operator reproduces the brute-force truth doc-for-doc
    val got = TextAnalysis.dupScrubSa(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.length === collapsed.size)
    got.foreach { case (d, nTok, nRem, text) =>
      val ws = collapsed(d)
      assert(nTok === ws.length.toLong, s"doc $d token count")
      val rem = (0 until ws.length).filter(i => removedSa(d -> i))
      assert(nRem === rem.size.toLong, s"doc $d removed count")
      val expect = ws.zipWithIndex.collect {
        case (w, i) if !removedSa(d -> i) => w }.mkString(" ")
      assert(text === expect, s"doc $d scrubbed text")
    }
  }

  test("piiScrub detects the injected PII and redacts to a clean text") {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}".r
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}".r
    val rows = TextAnalysis.piiScrub(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, emails, ips, _) =>
      if (id % 3 == 0) assert(emails >= 1, s"doc $id must detect its email")
      if (id % 5 == 0) assert(ips >= 1, s"doc $id must detect its ip")
    }
    // driver-side replay: the scrubbed hash is md5 of a text with no
    // surviving matches
    val texts = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    rows.take(50).foreach { case (id, _, _, hash) =>
      val aug = texts(id) +
        (if (id % 3 == 0) s" contact user$id@example.com" else "") +
        (if (id % 5 == 0) s" from 10.0.${id % 256}.${(id / 256) % 256}" else "")
      val scrubbed = ipRe.replaceAllIn(
        emailRe.replaceAllIn(aug, "<EMAIL>"), "<IP>")
      assert(emailRe.findFirstIn(scrubbed).isEmpty &&
        ipRe.findFirstIn(scrubbed.replace("<IP>", "")).isEmpty)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(scrubbed.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(md === hash, s"doc $id scrub mismatch")
    }
    // pure projection — no exchange
    val plan = SparkFixture.planOf(TextAnalysis.piiScrub(spark, sf))
    assert(!plan.contains("Exchange"), plan)
  }

  test("entropy equals a driver-side reference and respects the ln(n) bound") {
    def q12(x: Double): Double =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    val want = docs.map { case (id, ws) =>
      val n = ws.length.toLong
      if (n == 0L) (id, 0L, 0.0)
      else {
        val clogc = ws.groupBy(identity).values
          .map(g => BigDecimal(g.length) * BigDecimal(q12(math.log(g.length)))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP))
          .sum
        (id, n, q12(math.log(n.toDouble)) - clogc.toDouble / n.toDouble)
      }
    }.toSet
    val got = TextAnalysis.entropy(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === want)
    // Shannon bounds: 0 <= H <= ln(n) (quantization slack only)
    got.foreach { case (id, n, h) =>
      assert(h >= -1e-9, s"doc $id")
      if (n > 0) assert(h <= math.log(n.toDouble) + 1e-9, s"doc $id")
    }
  }

  test("collocations equal a driver-side PMI reference") {
    def q12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val toks = Tables.documents(spark, sf).select("text").collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty))
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val big = toks.filter(_.length >= 2)
      .flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val u = uni.values.sum
    val b = big.values.sum
    val want = big.filter(_._2 >= TextAnalysis.CollocMinCount)
      .map { case ((w1, w2), n) =>
        val pmi = (q12(math.log(n.toDouble)) + q12(math.log(u.toDouble)) +
          q12(math.log(u.toDouble)) - q12(math.log(b.toDouble)) -
          q12(math.log(uni(w1).toDouble)) - q12(math.log(uni(w2).toDouble))).toDouble
        (w1, w2, n, pmi)
      }.toSeq
      .sortBy { case (w1, w2, _, pmi) => (-pmi, w1, w2) }
      .take(TextAnalysis.CollocK)
    val got = TextAnalysis.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got.toSet === want.toSet)
    // counts conserve: every reported pair count is the true corpus count
    got.foreach { case (w1, w2, n, _) => assert(n === big((w1, w2))) }
  }

  test("duplicate-span coverage equals the hand fold") {
    val gram = 4
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").filter(_.nonEmpty)))
    val shingles = docs.flatMap { case (id, ws) =>
      ws.sliding(gram).filter(_.length == gram).zipWithIndex
        .map { case (g, i) => (id, i, g.mkString(" ")) }
    }
    val corpusCount = shingles.groupBy(_._3).view.mapValues(_.length).toMap
    val want = docs.map { case (id, ws) =>
      val dup = shingles.filter(sp => sp._1 == id && corpusCount(sp._3) >= 2)
      val covered = dup.flatMap(sp => sp._2 until sp._2 + gram).distinct.length
      (id, ws.length.toLong, dup.length.toLong, covered.toLong,
        covered.toDouble / math.max(ws.length, 1).toDouble)
    }.toSet
    val got = TextAnalysis.dupSpans(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(got === want)
    // the corpus genuinely exercises both sides of the metric
    assert(got.exists(_._3 > 0), "no duplicate spans found at gram=4")
    assert(got.forall(t => t._4 <= t._2), "coverage cannot exceed tokens")
  }

  test("gopherRules equals a driver-side rule recount") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val stop = Set("the", "a", "of", "and", "to", "in")
    val want = docs.map { case (id, text) =>
      val ws = text.split(" ").filter(_.nonEmpty)
      val n = ws.length.toLong
      val sumW = ws.map(_.length.toLong).sum
      val nAlpha = ws.count(_.exists(_.isLetter)).toLong
      val nStop = ws.toSet.intersect(stop).size.toLong
      val top2 = if (n >= 2)
        ws.sliding(2).map(_.mkString(" ")).toSeq
          .groupBy(identity).values.map(_.size).max.toLong
      else 0L
      val rw = n >= 50 && n <= 100000
      val rl = 3 * n <= sumW && sumW <= 10 * n
      val ra = 5 * nAlpha >= 4 * n
      val rs = nStop >= 2
      val rb = n < 2 || 100 * top2 <= 18 * (n - 1)
      (id, n, sumW, nAlpha, nStop, top2, rw, rl, ra, rs, rb,
        rw && rl && ra && rs && rb)
    }.toSet
    val got = TextAnalysis.gopherRules(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6), r.getBoolean(7),
        r.getBoolean(8), r.getBoolean(9), r.getBoolean(10), r.getBoolean(11)))
      .toSet
    assert(got === want)
  }

  test("gopherRules rules each carry signal on the corpus (not vacuous)") {
    val rows = TextAnalysis.gopherRules(spark, sf).collect()
    def split(i: Int): Boolean =
      rows.exists(_.getBoolean(i)) && rows.exists(!_.getBoolean(i))
    // word-count bound and the 2-stopword rule must both split the
    // corpus; the composite keep must be a strict subset
    assert(split(6), "r_words is vacuous")
    assert(split(9), "r_stop is vacuous")
    val nKeep = rows.count(_.getBoolean(11))
    assert(nKeep > 0 && nKeep < rows.length, "keep must be selective")
  }
}
