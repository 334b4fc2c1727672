package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Memo, Tables}

/** Typed per-media metadata produced by the decoder. */
case class MediaMeta(doc_id: Long, n_bytes: Long, width: Int, height: Int,
                     frames: Int, phash: String)

/** Multimodal-column plumbing: media as opaque `binary` + typed metadata.
  *
  * The decode step is PLUGGABLE ([[MediaDecoder]]): operators take a
  * `() => MediaDecoder` factory, instantiated once per partition on the
  * executor — the Scala analogue of mapInPandas's per-batch setup. The
  * default is the REAL [[ImageIoDecoder]] (the JDK ships PNG/BMP/GIF
  * codecs — zero external dependencies): a binary column flows through a
  * typed Dataset, the decode runs batched per partition, and the output
  * schema is the typed metadata a downstream pipeline would consume. At
  * scale this is the shape that matters: decode parallelism == partition
  * count, no driver-side collect, constant memory per task, codec setup
  * amortized per partition.
  *
  * The binary column itself is synthesized executor-side from the
  * documents table ([[MediaGen]]: a real PNG filmstrip whose dimensions
  * are arithmetic in doc_id) — the testdata carries no media files, and
  * the arithmetic makes the decode path ORACLE-CHECKABLE: DuckDB
  * recomputes the expected dimensions from doc_id, so a hash match on
  * mm_decode_dims proves the ImageIO decode returned exactly them.
  */
object Multimodal {

  /** The synthesized media column: (doc_id, payload BINARY) — one real
    * PNG per document, generated on the executors (never collected),
    * MATERIALIZED once per (session, dir): a real pipeline reads its
    * media column from storage — it doesn't re-encode the corpus per
    * query — so the PNG encode runs once and the three mm_* surfaces
    * (decode, features, frames) read the checkpointed binary column.
    * Size is bounded by the media payloads themselves (the same thing
    * a media table on disk costs).
    */
  def payloads(s: SparkSession, dir: String): DataFrame =
    Memo.over(s, "Multimodal.payloads", s"$dir/documents.parquet") {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(it => it.map(id => (id, MediaGen.pngPayload(id))))
        .toDF("doc_id", "payload")
        .localCheckpoint()
    }

  /** Binary payload → per-partition batched decode → typed metadata. */
  def decode(s: SparkSession, dir: String,
             mkDecoder: () => MediaDecoder = MediaDecoder.imageio): DataFrame = {
    import s.implicits._
    payloads(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // One decoder instance per partition (mapInPandas batch shape).
        val dec = mkDecoder()
        it.map { case (id, bytes) =>
          val m = dec.meta(bytes)
          MediaMeta(id, bytes.length.toLong, m.width, m.height, m.frames, m.phash)
        }
      }
      .toDF()
  }

  /** The oracle-checkable projection of [[decode]]: dimensions only,
    * cast to BIGINT to match the DuckDB arithmetic mirror. A hash match
    * here proves the executor-side image decode returned exactly the
    * generated filmstrip geometry.
    */
  def decodeDims(s: SparkSession, dir: String): DataFrame =
    decode(s, dir).select(
      col("doc_id"),
      col("width").cast("long").as("width"),
      col("height").cast("long").as("height"),
      col("frames").cast("long").as("frames"))

  /** Feature extraction: binary payload → fixed-dim float vector.
    * REAL decode-derived features: a 16-bin luma histogram over the
    * decoded pixels, L1-normalized — deterministic (PNG is lossless, so
    * pixels are exact). Batched per-partition extraction emitting an
    * Array[Float] column that feeds directly into the Similarity
    * operators.
    */
  def features(s: SparkSession, dir: String): DataFrame =
    featuresOf(s, payloads(s, dir))

  /** [[features]] over any (doc_id, payload) frame — lets callers
    * filter payloads BEFORE the decode barrier (a filter above the
    * typed mapPartitions cannot push through it, so filtering the
    * decoded frame still decodes the full corpus).
    */
  private def featuresOf(s: SparkSession, payloadFrame: DataFrame): DataFrame = {
    import s.implicits._
    payloadFrame
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          require(img != null, s"payload is not a decodable image (${bytes.length} bytes)")
          val hist = new Array[Float](16)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              val luma = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
                (rgb & 0xFF) * 114) / 1000
              hist(luma >> 4) += 1f
              x += 1
            }
            y += 1
          }
          val n = img.getWidth * img.getHeight
          (id, hist.map(_ / n))
        }
      }
      .toDF("doc_id", "features")
  }

  /** Driver-checkable projection of [[features]]: the raw Array[Float]
    * column is unhashable for the correctness harness (pandas can't sort
    * ndarray cells), so the query surface emits a deterministic sortable
    * digest — each dim quantized to ⌊x·2²⁴⌋ (the same grid the decimal
    * vector kernel uses) and joined into one string — plus the dim count.
    * The Array[Float] variant above stays the internal API feeding
    * Similarity.
    */
  def featuresDigest(s: SparkSession, dir: String): DataFrame =
    features(s, dir).select(
      col("doc_id"),
      size(col("features")).as("dim"),
      // builtins (transform + concat_ws), not a typed lambda: the digest
      // projection stays inside whole-stage codegen above the decode
      concat_ws(",", transform(col("features"),
        x => floor(x.cast("double") * lit(1 << 24)).cast("long").cast("string")))
        .as("features_digest"))

  /** Frame sampling: one media payload → one row per sampled frame
    * (every k-th filmstrip frame), the batch-expansion shape of video
    * pipelines: flatMap per partition, output cardinality
    * = ceil(frames/stride), partitioning inherited — no shuffle. The
    * decoder's identity cache makes this one decode per payload, not
    * one per frame.
    */
  def sampleFrames(s: SparkSession, dir: String, stride: Int = 8,
                   mkDecoder: () => MediaDecoder = MediaDecoder.imageio): DataFrame = {
    import s.implicits._
    payloads(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = mkDecoder()
        it.flatMap { case (id, bytes) =>
          val frames = dec.meta(bytes).frames
          (0 until frames by stride).map(f => (id, f, dec.frameHash(bytes, f)))
        }
      }
      .toDF("doc_id", "frame_idx", "frame_hash")
  }

  /** The oracle-checkable projection of [[sampleFrames]]: which frames
    * got sampled — arithmetic in doc_id (frames = 1 + floorMod(id, 12),
    * stride 8), mirrored by a DuckDB generate_series.
    */
  def frameIndex(s: SparkSession, dir: String): DataFrame =
    sampleFrames(s, dir).select(
      col("doc_id"),
      col("frame_idx").cast("long").as("frame_idx"))

  /** Cross-modal integration: cosine top-k over the DECODED-PIXEL
    * feature vectors ([[features]] — 16-bin luma histograms), the
    * "find visually similar media" leg. Same structure and numeric
    * contract as the §2.G ANN operators (quantized decimal_dot kernel,
    * broadcast query side, ties → doc_id); a production pipeline would
    * persist the feature column and hand it to the LSH/IVF/PQ paths —
    * this entry proves the decoded features ARE that column.
    * (rows-only: pixel-derived values aren't SQL-expressible; the spec
    * pins determinism and ranking invariants.)
    */
  // ---- audio: the second modality through the same plumbing ------------

  /** The synthesized AUDIO column: (doc_id, payload BINARY) — one real
    * RIFF/WAVE file per document ([[MediaGen.wavPayload]]), generated on
    * the executors, materialized once per (session, dir) like the image
    * payloads.
    */
  def audioPayloads(s: SparkSession, dir: String): DataFrame =
    Memo.over(s, "Multimodal.audioPayloads", s"$dir/documents.parquet") {
      import s.implicits._
      Tables.documents(s, dir)
        .select(col("doc_id"))
        .as[Long]
        .mapPartitions(it => it.map(id => (id, MediaGen.wavPayload(id))))
        .toDF("doc_id", "payload")
        .localCheckpoint()
    }

  /** Container metadata from the REAL javax.sound decode — the
    * oracle-checkable audio projection (mm_decode_dims's twin): sample
    * rate and stream length come from the decoded header/stream, DuckDB
    * recomputes them from doc_id arithmetic, and the hash match proves
    * the decode. duration_us is exact integer arithmetic.
    */
  def audioMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioPayloads(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = new WavDecoder
        it.map { case (id, bytes) =>
          val (rate, samples) = dec.read(bytes)
          (id, rate.toLong, samples.length.toLong,
            samples.length.toLong * 1000000L / rate)
        }
      }
      .toDF("doc_id", "sample_rate", "n_samples", "duration_us")
  }

  /** Signal features over the DECODED PCM stream: peak amplitude, zero
    * crossings, RMS — all from exact integer sums over the decoded
    * samples (rms's one sqrt is IEEE-correctly-rounded, so even it is
    * cross-engine exact). Oracle-checkable BECAUSE the waveform is
    * arithmetic in doc_id: DuckDB regenerates the PCM values and
    * recomputes the same features — a hash match proves the executor
    * decode returned the exact stream, sample for sample.
    */
  def audioFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audioPayloads(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = new WavDecoder
        it.map { case (id, bytes) =>
          val (_, samples) = dec.read(bytes)
          var i = 0
          var peak = 0L
          var zc = 0L
          var sumsq = 0L
          var prevNeg = false
          while (i < samples.length) {
            val v = samples(i).toLong
            sumsq += v * v
            val a = math.abs(v)
            if (a > peak) peak = a
            val neg = v < 0L
            if (i > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            i += 1
          }
          (id, samples.length.toLong, peak, zc,
            math.sqrt(sumsq.toDouble / samples.length))
        }
      }
      .toDF("doc_id", "n_samples", "peak", "zero_crossings", "rms")
  }

  /** Per-media 64-bit perceptual hash as a joinable long column:
    * (doc_id, simhash) — the image-side analogue of
    * Dedup.simhashPerDoc, decoded executor-side (one decoder per
    * partition), feeding the SAME width-generic block-LSH admission
    * gate the text side uses.
    */
  def phashPerDoc(s: SparkSession, dir: String): DataFrame =
    phashOf(s, payloads(s, dir))

  private[graft] def phashOf(s: SparkSession,
                             payloadFrame: DataFrame): DataFrame = {
    import s.implicits._
    payloadFrame
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        val dec = MediaDecoder.imageio()
        it.map { case (id, bytes) =>
          (id, java.lang.Long.parseUnsignedLong(dec.meta(bytes).phash, 16))
        }
      }
      .toDF("doc_id", "simhash")
  }

  /** IMAGE NEAR-DUP ADMISSION (round 17; VERDICT r16 #7): the
    * multimodal column gets the same dedup-at-ingest the text side has
    * — the corpus split's phashes collapse to the served block-LSH
    * index (Dedup.admissionIndex at 64 bits), the arriving delta is
    * verdicted `dup_of_corpus`/`kept` at Hamming <= maxDist (default 14
    * of 64 — the realistic phash near-dup band; the synthetic corpus'
    * nearest cross-split pairs sit at 10-16). Per-doc
    * work is O(blocks × matched index rows); the index is bounded by
    * DISTINCT phash values, never media bytes. Rows-only driver tier
    * (pixel provenance — no SQL oracle decodes PNGs); the spec pins it
    * ≡ brute force.
    */
  def admission(s: SparkSession, dir: String, corpusPct: Int = 80,
                maxDist: Int = 14): DataFrame = {
    // split BEFORE the decode barrier (review r17): the bucket filter
    // is pure doc_id arithmetic, and a filter above the opaque
    // mapPartitions decode cannot push through it — filtering the
    // hashed frame would decode the whole corpus once per branch
    val pay = payloads(s, dir)
      .withColumn("bucket", graft.pipeline.Dedup.splitBucket(col("doc_id")))
    val idx = graft.pipeline.Dedup.admissionIndex(
      phashOf(s, pay.filter(col("bucket") < corpusPct)
        .select("doc_id", "payload")),
      maxDist, bits = 64)
    graft.pipeline.Dedup.admissionVerdicts(
      phashOf(s, pay.filter(col("bucket") >= corpusPct)
        .select("doc_id", "payload")),
      idx, maxDist, bits = 64)
  }

  def annByFeatures(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val f = features(s, dir).select(
      col("doc_id"), col("features"),
      graft.functions.VectorOps.dot(col("features"), col("features")).as("norm"))
    // query side decodes ONLY its own payloads: the filter applies to
    // the (checkpointed) payload frame below the decode barrier —
    // filtering `f` instead would re-decode the whole corpus to keep
    // 5 rows
    val q = featuresOf(s, payloads(s, dir).filter(col("doc_id") < 5)).select(
      col("doc_id").as("qid"), col("features").as("qf"),
      graft.functions.VectorOps.dot(col("features"), col("features")).as("qn"))
    val pairs = broadcast(q).join(f, col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id"),
        (graft.functions.VectorOps.dot(col("qf"), col("features"))
          / (sqrt(col("qn")) * sqrt(col("norm")))).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cosine").desc, col("doc_id").asc)
    pairs.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
      .select("qid", "doc_id", "rnk", "cosine")
  }
}
