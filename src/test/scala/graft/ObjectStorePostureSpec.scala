package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SortedWriter
import SparkFixture.{sf, spark, planOf}

/** Object-store read posture, EXECUTABLE (round 12; VERDICT r11 #8) —
  * the reference hand-rolls 4 MiB sections with async prefetch over a
  * bucket API (reference: storage/bucket.go:14-52, db/section.go:
  * 25-167); our deployment pins Spark/Hadoop's equivalents instead
  * (PLANS.md round-8 posture). This spec RUNS that posture rather than
  * documenting it: a sorted-store scan through a Hadoop FileSystem
  * carrying the S3A-relevant read configs — Hadoop VECTORED IO on the
  * parquet path (the ranged-read + adjacent-range coalescing the
  * reference's section loader does; parquet-hadoop's VectorIoBridge
  * consumes `parquet.hadoop.vectored.io.enabled`) and the reference's
  * 4 MiB section size as the stream buffer — asserting the results are
  * bit-identical AND that predicate pushdown + row-group pruning
  * SURVIVE the IO-layer reconfiguration (the failure mode worth a
  * test: an FS-layer change that silently turns range-pruned reads
  * into full scans would still return correct rows).
  *
  * The configs ride per-relation datasource options
  * (`newHadoopConfWithOptions`), the same mechanism a production job
  * uses to set `fs.s3a.vectored.read.max.merged.size` / prefetch knobs
  * per table without touching the global context — the file: scheme
  * stands in for s3a: (same FileSystem API, same vectored-read
  * interface since Hadoop 3.3.5), which is exactly how the posture
  * stays testable offline.
  */
class ObjectStorePostureSpec extends AnyFunSuite {

  /** The S3A-relevant reader configs, file:-scheme edition. On a real
    * bucket the same map carries the s3a keys PLANS.md pins
    * (vectored.read.max.merged.size=4M, prefetch.block.size=4M).
    */
  private val postureOpts = Map(
    "parquet.hadoop.vectored.io.enabled" -> "true",
    // reference section size (db/section.go: 4 MiB aligned sections)
    "io.file.buffer.size" -> (4 * 1024 * 1024).toString,
    // harmless on file:, consumed on s3a: — the PLANS.md deployment keys
    "fs.s3a.vectored.read.max.merged.size" -> "4M",
    "fs.s3a.prefetch.block.size" -> "4M")

  private def store: String = {
    val out = SparkFixture.tmp("test_posture_sorted")
    if (!new java.io.File(s"$out/_SUCCESS").isFile)
      // small row groups so the test fixture has several to prune (at
      // production sf the default 128 MB groups give the same shape)
      SortedWriter.writeSorted(spark, sf, out,
        writerOptions = Map(
          "parquet.block.size" -> "4096",
          "parquet.page.size" -> "1024"))
    out
  }

  test("vectored-IO + section-sized buffers: scan is bit-identical to default IO") {
    val out = store
    def scan(opts: Map[String, String]) =
      spark.read.options(opts).parquet(out)
        .filter(col("event_type") === "click" && col("user_id") <= 20L)
        .select("event_id", "user_id", "event_type", "value")
    val tuned = scan(postureOpts)
    val plain = scan(Map.empty)
    assert(plain.count() > 0, "fixture must select rows")
    assert(tuned.exceptAll(plain).count() === 0 &&
      plain.exceptAll(tuned).count() === 0,
      "IO-layer posture must not change a single row")
  }

  test("pushdown and pruning survive the IO-layer configs") {
    val out = store
    val tuned = spark.read.options(postureOpts).parquet(out)
      .filter(col("event_type") === "click" && col("user_id") <= 20L)
      .select("event_id", "user_id")
    val plan = planOf(tuned)
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(event_type,click)") &&
      plan.contains("LessThanOrEqual(user_id,20)"),
      s"predicates must still reach the parquet scan:\n$plan")
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("props") && !read.contains("value"),
      s"column pruning must survive: $read")
    // row-group pruning through a Configuration CARRYING the posture
    // keys: the sorted layout + stats filter still skip groups
    val conf = new org.apache.hadoop.conf.Configuration()
    postureOpts.foreach { case (k, v) => conf.set(k, v) }
    val (surviving, total) =
      SortedWriter.survivingRowGroups(out, "user_id", 20L,
        useStats = true, useBloom = false, conf0 = conf)
    assert(total > 1, s"fixture needs multiple row groups, had $total")
    assert(surviving < total,
      s"sorted-store stats pruning must survive: $surviving/$total groups")
  }

  test("split sizing: maxPartitionBytes shapes the scan's partition count") {
    val out = store
    def partitions(maxBytes: String): Int = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", maxBytes)
      try spark.read.options(postureOpts).parquet(out)
        .select("event_id").rdd.getNumPartitions
      finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    val coarse = partitions("256m")
    val fine = partitions("128k")
    assert(fine > coarse,
      s"smaller split budget must plan more input splits ($fine vs $coarse)")
  }
}
