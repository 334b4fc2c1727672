package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SortedWriter
import SparkFixture.{sf, spark}

class SortedWriterSpec extends AnyFunSuite {

  test("sorted write preserves content and orders rows within every file") {
    val out = SparkFixture.tmp("test_sorted")
    SortedWriter.writeSorted(spark, sf, out)
    val back = spark.read.parquet(out)
    assert(back.count() === Tables.events(spark, sf).count())
    // within each physical file, (event_type, user_id, ts) must be
    // non-decreasing — this is what gives parquet row-group stats their
    // pruning power (the reference's sorted-layout invariant). Read each
    // file on its own: collect() order is file order there.
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.nonEmpty)
    files.foreach { f =>
      val rows = spark.read.parquet(f)
        .select(col("event_type"), col("user_id"), unix_micros(col("ts")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      rows.zip(rows.tail).foreach { case (a, b) =>
        assert(Ordering[(String, Long, Long)].lteq(a, b),
          s"rows out of order inside $f: $a > $b")
      }
    }
  }

  test("files partition the key space: per-file key ranges do not overlap") {
    val out = SparkFixture.tmp("test_sorted")
    val ranges = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(struct(col("event_type"), col("user_id"))).as("lo"),
        max(struct(col("event_type"), col("user_id"))).as("hi"))
      .collect()
      .map(r => (r.getStruct(1), r.getStruct(2)))
      .map { case (lo, hi) =>
        ((lo.getString(0), lo.getLong(1)), (hi.getString(0), hi.getLong(1))) }
      .sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(Ordering[(String, Long)].lteq(hi, lo2),
        s"file ranges overlap: $hi vs $lo2")
    }
  }

  test("sorted files carry bloom filters on the label columns") {
    val out = SparkFixture.tmp("test_sorted")
    val file = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getPath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      import scala.jdk.CollectionConverters._
      val cols = reader.getFooter.getBlocks.get(0).getColumns.asScala
      def bloomOf(name: String) = cols
        .find(_.getPath.toDotString == name).get.getBloomFilterOffset
      assert(bloomOf("event_id") > 0, "event_id needs a bloom filter")
      // user_id fully dictionary-encodes at this scale, so parquet
      // correctly skips its (redundant) bloom; unconfigured columns
      // must not pay for blooms either
      assert(bloomOf("value") <= 0, "unconfigured columns should not pay for blooms")
    } finally reader.close()
    // the per-label knob: an empty bloomCols writes no blooms at all
    val outNone = SparkFixture.tmp("test_sorted_nobloom")
    SortedWriter.writeSorted(spark, sf, outNone, bloomCols = Seq.empty)
    val f2 = new java.io.File(outNone).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val r2 = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f2.getPath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      import scala.jdk.CollectionConverters._
      val none = r2.getFooter.getBlocks.get(0).getColumns.asScala
      assert(none.forall(_.getBloomFilterOffset <= 0),
        "bloomCols = empty must write no bloom filters")
    } finally r2.close()
  }

  test("part writer lays out part.N.parquet + part.N.metadata; compact merges") {
    import graft.sources.{ChunkStore, PartWriter}
    val dir = SparkFixture.tmp("test_parts")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    new java.io.File(dir).mkdirs()
    val chunks = ChunkStore.buildChunks(spark, sf).toDF()
    // two flushes, as the reference's buffered writer would emit
    val batch0 = chunks.filter(col("user_id") % 2 === 0)
    val batch1 = chunks.filter(col("user_id") % 2 === 1)
    assert(PartWriter.writePart(batch0, dir) === 0)
    assert(PartWriter.writePart(batch1, dir) === 1)
    // layout: part.0.parquet, part.1.parquet dirs + .metadata sidecars
    val names = new java.io.File(dir).list().toSet
    assert(names.contains("part.0.parquet") && names.contains("part.1.parquet"))
    assert(names.contains("part.0.metadata") && names.contains("part.1.metadata"))
    val meta0 = scala.io.Source.fromFile(s"$dir/part.0.metadata", "UTF-8").mkString
    assert(meta0.contains("\"rows\":" + batch0.count()))
    assert(meta0.contains("\"sort_columns\":[\"event_type\",\"mint\",\"maxt\",\"user_id\"]"))
    // compact merges every part, globally sorted on the sort columns
    PartWriter.compact(spark, dir)
    assert(new java.io.File(s"$dir/compact.parquet").isDirectory)
    assert(new java.io.File(s"$dir/compact.metadata").isFile)
    val compacted = spark.read.parquet(s"$dir/compact.parquet")
    assert(compacted.count() === chunks.count())
    assert(compacted.select("user_id", "event_type", "mint", "maxt")
      .exceptAll(chunks.select("user_id", "event_type", "mint", "maxt"))
      .count() === 0)
    // per-file sort invariant on the leading sort columns
    val files = new java.io.File(s"$dir/compact.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    files.foreach { f =>
      val rows = spark.read.parquet(f).select("event_type", "mint")
        .collect().map(r => (r.getString(0), r.getLong(1)))
      rows.zip(rows.tail).foreach { case (a, b) =>
        assert(Ordering[(String, Long)].lteq(a, b), s"out of order in $f")
      }
    }
    // readParts sees both parts but not compact.parquet
    assert(PartWriter.readParts(spark, dir).count() === chunks.count())
  }

  test("bucketed layout: per-key agg + join run with ZERO exchanges") {
    import graft.sources.BucketedStore
    val df = BucketedStore.bucketedJoin(spark, sf)
    // correctness: deviation sums to ~0 per user
    val sums = df.groupBy("user_id")
      .agg(sum("dev").as("s"), count(lit(1)).as("n")).collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1)) < 1e-6 * r.getLong(2),
      s"per-user deviations must sum to 0"))
    // the whole plan — scan, aggregate, join — needs no SHUFFLE: the
    // bucketed scan IS the required hash distribution, so the aggregate
    // is partial+final with no Exchange between, and the join-back
    // broadcasts the (tiny) aggregate output. BroadcastExchange is fine;
    // a hashpartitioning Exchange would mean the bucketing was ignored.
    val tree = SparkFixture.planOf(df).split("\n\n").head
    assert(!tree.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$tree")
    assert(tree.contains("Join"), tree)
  }

  test("compaction coalesces fragments; file count scales with input, not dates") {
    val df = SortedWriter.compactionQuery(spark, sf)
    assert(df.count() === Tables.events(spark, sf).count())
    val compacted = SparkFixture.tmp(s"compact_${sf.replaceAll("[^A-Za-z0-9.]", "_")}")
    val fragged = SortedWriter.fragmented(spark, sf)
    val datePartitions = new java.io.File(compacted).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("date="))
    val nCompact = SortedWriter.partFileCount(compacted)
    assert(SortedWriter.partFileCount(fragged) > nCompact,
      "compaction must reduce file count")
    // size-scaled RANGE partitioning over (date, type, ts): each range
    // task covers contiguous dates, so files ≤ dates + tasks − 1 — and a
    // hot date may legitimately split across tasks at scale (the old
    // hash-repartition-by-date shape pinned each date to ONE task)
    val nTasks = graft.sources.ChunkStore.targetPartitions(spark, fragged)
    assert(nCompact <= datePartitions + nTasks - 1,
      s"$nCompact files for $datePartitions dates / $nTasks range tasks")
  }

  test("store root is configurable via spark.graft.store.root") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_store").toString
    spark.conf.set("spark.graft.store.root", tmp)
    try {
      SortedWriter.sortedWriteQuery(spark, sf).count()
      assert(new java.io.File(
        s"$tmp/sorted_${sf.replaceAll("[^A-Za-z0-9.]", "_")}").isDirectory,
        "sorted write must land under the configured root")
      graft.sources.ChunkStore.chunkMeta(spark, sf).count()
      assert(new java.io.File(tmp).list().exists(_.startsWith("chunks_")),
        "the chunk store must follow the configured root")
    } finally spark.conf.set("spark.graft.store.root", SparkFixture.storeRoot)
  }
}
