package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** The LLM-curation pipeline's ONLINE leg: a documents file-stream
  * deduplicated by content hash and quality-filtered inline, writing
  * the kept set as it arrives — "clean as you ingest" instead of
  * batch-cleaning afterwards.
  *
  * What streams and what doesn't, honestly:
  *  - EXACT dedup streams: `dropDuplicates(content_hash)` keeps the
  *    first-arriving copy of each distinct text. The state store holds
  *    one row per DISTINCT CONTENT — the same collapse-first bound the
  *    batch dedup family exploits (state grows with unique texts, not
  *    with stream length; duplicate-heavy streams are exactly where it
  *    stays small relative to input).
  *  - The per-document quality rules stream: the composite score and
  *    the Gopher repetition fractions are pure projections over the
  *    document's own words (array builtins, zero state).
  *  - The corpus-global signals (unigram-LM typicality, near-dup) do
  *    NOT stream — they need corpus-wide state; run them in batch over
  *    this sink's output (same files), the same batch-over-ingested
  *    contract as the rejected PromQL verbs. Contamination is the
  *    exception: its reference side is a FIXED benchmark index, so it
  *    streams as the stateless [[ContaminationStream]] guard.
  */
object CurationStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The streamable verdict columns — shared formulas with the batch
    * operators (TextAnalysis.scoreCol / repetition's array builtins).
    */
  private def verdictCols(df: DataFrame,
                          minQuality: Double,
                          maxDupWordFrac: Double): DataFrame = {
    val words = expr("filter(split(text, ' '), w -> w <> '')")
    val nWords = size(words).cast("long")
    val dupFrac = lit(1.0) -
      size(array_distinct(words)).cast("double") /
        greatest(nWords, lit(1L)).cast("double")
    df.withColumn("content_hash", md5(col("text")))
      .withColumn("score", graft.pipeline.TextAnalysis.scoreCol)
      .withColumn("dup_word_frac", dupFrac)
      .withColumn("keep",
        col("score") >= minQuality && col("dup_word_frac") <= maxDupWordFrac)
  }

  /** One emitted (kept) document row. */
  case class KeptDoc(doc_id: Long, text: String, lang: String, source: String,
                     content_hash: String, score: Double, dup_word_frac: Double)

  /** One AvailableNow pass: inDir (documents parquet files) → outDir,
    * exact dedup + inline quality filter. Kept rows only.
    *
    * DETERMINISTIC keep rule — the batch keep-first policy, not
    * arrival order: per content hash, the lowest doc_id WITHIN the
    * micro-batch wins and later batches are suppressed by one boolean
    * of state per distinct content (dropDuplicates would keep an
    * arbitrary first-seen partition's row). On a backlog run (one
    * batch) this is exactly dedup_exact's min-doc_id survivor, so the
    * spec can assert DOC-level equality with the batch pipeline, not
    * just content-level.
    */
  def runOnce(s: SparkSession, inDir: String, outDir: String,
              checkpoint: String,
              minQuality: Double = graft.pipeline.Curation.DefaultMinQuality,
              maxDupWordFrac: Double = graft.pipeline.Curation.DefaultMaxDupWordFrac): Unit = {
    import s.implicits._
    // text stays in the sink: the documented contract is that the
    // corpus-global batch passes (LM score, near-dup, contamination)
    // run over these files — they all read the text column
    val verdicted = verdictCols(
      s.readStream.schema(docSchema).parquet(inDir),
      minQuality, maxDupWordFrac)
      .filter(col("keep"))
      .select("doc_id", "text", "lang", "source",
        "content_hash", "score", "dup_word_frac")
      .as[KeptDoc]
    val stream = verdicted
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[Boolean, KeptDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          if (state.exists) Iterator.empty // content already kept
          else {
            state.update(true)
            Iterator.single(rows.minBy(_.doc_id))
          }
      }
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Driver-record entry (the round-8 "promote the sink" candidate,
    * possible because the keep rule is DETERMINISTIC): one AvailableNow
    * backlog pass over the corpus' documents file into a write-once
    * store under the session's store root, returning the kept set —
    * (content_hash, doc_id, score, dup_word_frac). Idempotent: with
    * the checkpoint intact a re-run appends nothing and re-reads the
    * same store; a store whose checkpoint vanished is rebuilt from
    * scratch (never appended blind — that would double rows).
    */
  def keptStore(s: SparkSession, dir: String): DataFrame = {
    val root = graft.sources.ChunkStore.storeRoot(s)
    val tag = graft.sources.ChunkStore.pathTag(dir)
    val in = s"$root/curstream_$tag/in"
    val out = s"$root/curstream_$tag/out"
    val cp = s"$root/curstream_$tag/cp"
    if (!new java.io.File(cp).isDirectory)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    // spark part-file names embed UUIDs, so "idempotent by name"
    // staging is only a no-op while the corpus is the SAME corpus; the
    // source guard rebuilds from scratch otherwise (determinism makes
    // the rebuild exact)
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    RollupMaintainStream.guardSource(s"$root/curstream_$tag",
      graft.Artifact.fingerprint(src), in, out, cp)
    // the file-stream source watches a DIRECTORY: stage the corpus
    // into the store's inbox once (idempotent by name). The corpus may
    // be a single parquet FILE (the driver-generated testdata) or a
    // spark-written DIRECTORY of part files (soak stagings, real
    // deployments) — a bare Files.copy of a directory stages an empty
    // shell and the stream reads nothing (found benching sf1, r13)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    if (java.nio.file.Files.isDirectory(src)) {
      val parts = java.nio.file.Files.list(src)
      try parts.filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach { p =>
          val dst = java.nio.file.Paths.get(s"$in/${p.getFileName}")
          if (!java.nio.file.Files.exists(dst))
            java.nio.file.Files.copy(p, dst)
        }
      finally parts.close()
    } else {
      val staged = java.nio.file.Paths.get(s"$in/documents.parquet")
      if (!java.nio.file.Files.exists(staged))
        java.nio.file.Files.copy(src, staged)
    }
    try runOnce(s, in, out, cp)
    catch {
      case _: Throwable =>
        // a stale/incompatible checkpoint (e.g. from an interrupted
        // run) cannot be resumed — rebuild the store from scratch;
        // determinism makes the rebuild byte-equivalent
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(cp))
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
        runOnce(s, in, out, cp)
    }
    s.read.parquet(out)
      .select("content_hash", "doc_id", "score", "dup_word_frac")
  }

  /** One row of the online weighted sample. */
  case class SampledDoc(doc_id: Long, source: String, weight: Double,
                        skey: Double)

  /** ONLINE weighted sampling — the streaming twin of
    * [[graft.pipeline.Curation.weightedSample]]: the A-ES top-k is an
    * ONLINE algorithm by construction (each document's key is a pure
    * function of itself; the sample is just the running k largest
    * keys), so a k-row state suffices to maintain the exact batch
    * sample as documents arrive. Every micro-batch folds its rows into
    * the state and SNAPSHOTS the current sample over `outDir`
    * (foreachBatch overwrite — the continuously-refreshed sample
    * materialization, not an append log: admissions evict, and Append
    * can't retract an evicted doc).
    *
    * State honesty: the single group key routes each micro-batch
    * through one task — correct because the state is k rows and a
    * micro-batch is rate-bounded, but a very-high-rate deployment
    * would pre-reduce each batch to its local top-k (or pre-filter on
    * the broadcast k-th best key) before the stateful fold; the fold
    * itself is unavoidably a single reducer, exactly like the batch
    * form's driver-side merge of per-partition heaps.
    *
    * Because state persists in the checkpoint, re-running over a GROWN
    * input directory continues the same draw — the spec proves the
    * snapshot equals the batch sample over everything ingested so far,
    * across separate runs.
    */
  def weightedSampleStream(s: SparkSession, inDir: String, outDir: String,
                           checkpoint: String,
                           k: Int = graft.pipeline.Curation.DefaultWeightedK): Unit = {
    import s.implicits._
    require(k > 0, "k must be positive")
    val docs = s.readStream.schema(docSchema).parquet(inDir)
      .select(col("doc_id"), col("source"),
        graft.pipeline.TextAnalysis.scoreCol.as("weight"),
        graft.pipeline.Curation.sampleKeyCol.as("skey"))
      .as[SampledDoc]
    val sampled = docs
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[Seq[SampledDoc], SampledDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (_, rows, state) =>
          val merged = (state.getOption.getOrElse(Seq.empty) ++ rows)
            .sortBy(d => (-d.skey, d.doc_id)).take(k)
          state.update(merged)
          merged.iterator // the full current sample, k-bounded
      }
    val q = sampled.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SampledDoc], _: Long) =>
        // snapshot semantics: the latest batch's emission IS the sample
        batch.write.mode("overwrite").parquet(outDir)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
