package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Sorted parquet layout + compaction — the reference's storage side.
  *
  * The reference writes chunk rows sorted by (mint, maxt, labels...) with
  * per-label bloom filters, then merge-compacts `part.N.parquet` files
  * (reference: db/writer.go:44-66, db/writer.go Compact,
  * db/copying_row_group.go). Spark-first equivalent:
  *  - `repartitionByRange(seriesKey, time)` + `sortWithinPartitions` →
  *    every output file covers a tight (key, time) range, so parquet
  *    row-group min/max stats give readers the same page-skipping the
  *    reference gets from its hand-rolled stats selectors;
  *  - compaction = read small files, range-repartition, rewrite — at
  *    cluster scale each range partition is one task, no driver loop.
  */
object SortedWriter {

  private def base(s: SparkSession): String = ChunkStore.storeRoot(s)

  private def sfTag(dir: String) = ChunkStore.pathTag(dir)

  /** Columns that get a parquet bloom filter by default: the
    * point-lookup ids. `event_id` additionally turns dictionary
    * encoding off to model its production shape (unique values never
    * dictionary-encode at scale).
    */
  val DefaultBloomCols: Seq[String] = Seq("event_id", "user_id")

  /** Sorted write: events laid out by (event_type, user_id, ts), with
    * parquet bloom filters per label column — the reference configures
    * one bloom filter per label (reference: db/writer.go); `bloomCols`
    * is that per-label knob. parquet-mr only materializes a bloom when
    * the column is NOT fully dictionary-encoded (the dictionary already
    * gives exact membership), which is exactly the right behavior: at
    * production cardinalities the label/id columns outgrow the
    * dictionary and the bloom takes over row-group skipping. event_id
    * (unique) models that case here, with dictionary encoding off to
    * match its production shape.
    */
  def writeSorted(s: SparkSession, dir: String, out: String,
                  bloomCols: Seq[String] = DefaultBloomCols,
                  writerOptions: Map[String, String] = Map.empty): Unit = {
    val base = Tables.events(s, dir)
      .drop("ts_ns") // reader-side helper column, not part of the layout
      .repartitionByRange(
        ChunkStore.targetPartitions(s, s"$dir/events.parquet"),
        col("event_type"), col("user_id"))
      .sortWithinPartitions("event_type", "user_id", "ts")
      .write.mode(SaveMode.Overwrite)
      .options(writerOptions)
    val withBlooms = bloomCols.foldLeft(base)(
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true"))
    val writer =
      if (bloomCols.contains("event_id"))
        withBlooms.option("parquet.enable.dictionary#event_id", "false")
      else withBlooms
    writer.parquet(out)
  }

  /** Row groups surviving parquet-mr's own row-group filters for a long
    * equality predicate, per filter switch — the read-side counterpart
    * of the bloom WRITE config above (the reference both writes AND
    * reads per-label blooms: db/writer.go:69-88 configures them,
    * dataset/predicate.go:25-60 consumes them to skip pages). Spark's
    * scan delegates row-group filtering to this exact parquet-mr code
    * path, so the (surviving, total) pair measured here is what the
    * vectorized reader will actually read. Diagnostic/test helper.
    */
  def survivingRowGroups(path: String, column: String, value: Long,
                         useStats: Boolean, useBloom: Boolean,
                         conf0: org.apache.hadoop.conf.Configuration = null)
      : (Int, Int) = {
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val conf =
      if (conf0 != null) conf0 else new org.apache.hadoop.conf.Configuration()
    val pred = FilterApi.eq(FilterApi.longColumn(column),
      java.lang.Long.valueOf(value))
    val files = new java.io.File(path).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
    var total = 0
    var surviving = 0
    files.foreach { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
      val all = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try total += all.getRowGroups.size finally all.close()
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
        .withRecordFilter(FilterCompat.get(pred))
        .useStatsFilter(useStats)
        .useBloomFilter(useBloom)
        .useDictionaryFilter(false)
        .useColumnIndexFilter(false)
        .build()
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
      try surviving += r.getRowGroups.size finally r.close()
    }
    (surviving, total)
  }

  /** Query wrapper: write sorted, read back — content must equal the
    * source (oracle: plain SELECT on events).
    */
  def sortedWriteQuery(s: SparkSession, dir: String): DataFrame = {
    val out = s"${base(s)}/sorted_${sfTag(dir)}"
    writeSorted(s, dir, out)
    s.read.parquet(out).select("event_id", "user_id", "event_type", "value")
  }

  /** The fragmented INPUT state of [[compactionQuery]], a write-once
    * artifact (optimization r18): the tiny-files state is the
    * compaction's input fixture, not part of the compaction being
    * measured — rewriting it identically on every invocation doubled
    * the entry's cost.
    */
  private[graft] def fragmented(s: SparkSession, dir: String): String =
    graft.Artifact(s, "frag", s"$dir/events.parquet") { out =>
      // many tiny files per date partition (streaming ingest output)
      Tables.events(s, dir).drop("ts_ns")
        .withColumn("date", to_date(col("ts")))
        .repartition(16)
        .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(out)
    }

  /** Compact the fragmented state: coalesce per date partition into
    * sorted files.
    */
  def compactionQuery(s: SparkSession, dir: String): DataFrame = {
    val frag = fragmented(s, dir)
    val compacted = s"${base(s)}/compact_${sfTag(dir)}"
    // size-scaled range partitions over (date, type, ts). A hash
    // repartition on `date` alone would mean ONE task and one giant
    // output file per date — a straggler on every hot date at 100×.
    // Range partitioning keeps files sorted AND splits a hot date
    // across tasks; file count follows input bytes.
    s.read.parquet(frag)
      .repartitionByRange(
        ChunkStore.targetPartitions(s, frag),
        col("date"), col("event_type"), col("ts"))
      .sortWithinPartitions("date", "event_type", "ts")
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(compacted)
    s.read.parquet(compacted).select("event_id", "user_id", "event_type", "value")
  }

  /** Number of parquet part-files under a path (recursive) — test helper. */
  def partFileCount(path: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path)).count(_.getName.endsWith(".parquet"))
  }
}
