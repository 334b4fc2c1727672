package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The reference's chunk data model, Spark-first.
  *
  * tsdb-parquet stores one row per CHUNK: `__series__id, __mint, __maxt,
  * __chunk_bytes` plus one column per label, sorted by (mint, maxt,
  * labels) (reference: schema/chunk.go, db/writer.go:44-53), where
  * `__chunk_bytes` are raw Prometheus TSDB XOR chunk bytes
  * (reference: schema/chunk.go:25-37; cmd/convert/main.go copies them
  * straight out of a TSDB block). This module reproduces that layout over
  * the events table: samples are grouped per (series, hour), encoded with
  * the real Prometheus XOR bitstream ([[XorChunk]] — Gorilla §4.1), and
  * written range-partitioned + sorted so parquet min/max stats on
  * mint/maxt give readers the reference's page-skipping behavior.
  *
  * Chunk building is a single groupByKey→flatMapGroups shuffle (the
  * compactor's job in the reference); decode is a flatMap — both scale
  * linearly and never touch the driver.
  *
  * The chunk table is written ONCE per (source content, format) and
  * read many times — a [[graft.Artifact]], not a rebuild per query.
  */
object ChunkStore {

  val UsPerHour: Long = 3600L * 1000000L

  /** Bump when the on-disk chunk encoding changes: the path carries the
    * format tag, so stale tables from an older codec are never read.
    */
  private val FormatTag = "xor1"

  case class Chunk(user_id: Long, event_type: String, mint: Long, maxt: Long,
                   n_samples: Int, chunk: Array[Byte])

  /** Output partition count sized from input bytes (~one shuffle
    * partition per `bytesPerPartition` of source data), clamped to
    * [1, 4096] — replaces a hardcoded count that would mean 4 giant
    * tasks at 100 TB and 4 tiny ones at sf0.001.
    */
  def targetPartitions(s: SparkSession, path: String,
                       bytesPerPartition: Long = 128L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    math.max(1, math.min(4096, math.ceil(bytes.toDouble / bytesPerPartition).toInt))
  }

  /** Build chunks per (series, hour) from any events frame with columns
    * (user_id, event_type, us, value, event_id), encoded as Prometheus
    * XOR chunk bytes. A group overflowing the uint16 sample header
    * (never at test sf, routine at 100 TB) splits into multiple chunks,
    * exactly as Prometheus cuts chunks at a sample budget. Used both by
    * the batch store below and by the streaming convert path
    * (graft.streaming.Ingest.chunkConvert), whose micro-batches each
    * flush as one PartWriter part.
    */
  def chunksFrom(events: DataFrame): Dataset[Chunk] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"), col("us"), col("value"), col("event_id"))
      .as[(Long, String, Long, Double, Long)]
      .groupByKey(r => (r._1, r._2, r._3 / UsPerHour))
      .flatMapGroups { (key: (Long, String, Long), rows: Iterator[(Long, String, Long, Double, Long)]) =>
        val (uid, et) = (key._1, key._2)
        val sorted = rows.toArray.sortBy(r => (r._3, r._5))
        sorted.grouped(XorChunk.MaxSamples).map { slice =>
          val samples = slice.map(r => (r._3, r._4))
          Chunk(uid, et, slice.head._3, slice.last._3, slice.length,
            XorChunk.encode(samples))
        }
      }
  }

  /** Chunks of the full events table at `dir`. */
  def buildChunks(s: SparkSession, dir: String): Dataset[Chunk] =
    chunksFrom(Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts"))))

  /** Write the chunk table in the reference's sort order
    * (mint, maxt, labels) — reference: db/writer.go:44-53.
    */
  def writeChunks(s: SparkSession, dir: String, out: String): Unit =
    buildChunks(s, dir).toDF()
      .repartitionByRange(targetPartitions(s, s"$dir/events.parquet"), col("mint"))
      .sortWithinPartitions("mint", "maxt", "event_type", "user_id")
      .write.mode(SaveMode.Overwrite).parquet(out)

  /** Store root, from `spark.graft.store.root` (a library must not
    * hardcode its output location; the default is relative to the
    * working directory). Shared by every graft store.
    */
  def storeRoot(s: SparkSession): String =
    s.conf.get("spark.graft.store.root", "target/tmp")

  /** A dataset dir as a filesystem-safe path fragment. */
  def pathTag(dir: String): String = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The chunk table of `dir`'s events, built on first access; the
    * format tag in the key invalidates tables written by an older codec.
    */
  private def ensureWritten(s: SparkSession, dir: String): String =
    graft.Artifact(s, s"chunks_$FormatTag", s"$dir/events.parquet")(
      writeChunks(s, dir, _))

  /** The full chunk table (written on first access) — the raw
    * (labels, mint, maxt, n_samples, chunk) frame, for readers that do
    * their own pruning/decoding (e.g. the PromQL ChunkSource).
    */
  def table(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureWritten(s, dir))

  /** Chunk-table metadata view — the reference's series/time index. */
  def chunkMeta(s: SparkSession, dir: String): DataFrame = {
    val out = ensureWritten(s, dir)
    s.read.parquet(out)
      .select("user_id", "event_type", "mint", "maxt", "n_samples")
  }

  /** Decode every chunk back to samples — round-trip must equal the
    * source table exactly (bit-exact values: XOR is lossless). Decode is
    * the codegen'd `xor_decode` expression + explode, so the whole read
    * path stays inside whole-stage codegen (a typed flatMap would force
    * object deserialization per chunk).
    */
  def roundtrip(s: SparkSession, dir: String): DataFrame = {
    val out = ensureWritten(s, dir)
    s.read.parquet(out)
      .select(col("user_id"), col("event_type"),
        explode(graft.functions.ChunkOps.xorDecode(col("chunk"))).as("s"))
      .select(col("user_id"), col("event_type"),
        col("s.us").as("us"), col("s.value").as("value"))
  }

  /** Time-range chunk selection — the reference's `Querier.Select`
    * overlap test `mint <= hi AND maxt >= lo`
    * (reference: prometheus/querier.go:71-74), pushed to parquet stats
    * over the sorted layout, then decoded and re-filtered per sample.
    */
  def rangeQuery(s: SparkSession, dir: String, loUs: Long, hiUs: Long): DataFrame = {
    val out = ensureWritten(s, dir)
    s.read.parquet(out)
      .filter(col("mint") <= hiUs && col("maxt") >= loUs)
      .select(col("user_id"), col("event_type"),
        explode(graft.functions.ChunkOps.xorDecode(col("chunk"))).as("s"))
      .select(col("user_id"), col("event_type"),
        col("s.us").as("us"), col("s.value").as("value"))
      .filter(col("us") >= loUs && col("us") <= hiUs)
  }
}
