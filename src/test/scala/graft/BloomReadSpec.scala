package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SortedWriter
import SparkFixture.{scanOutputRows, spark}

/** READ-side proof for the sorted store's parquet metadata: blooms must
  * skip row groups that min/max stats cannot, and the column index must
  * skip pages within a surviving row group (reference: db/writer.go
  * writes per-label blooms, dataset/predicate.go:25-60 consumes them;
  * dataset/row_selection.go:29-161 selects page-level row ranges).
  *
  * The store is sorted by (event_type, user_id, ts) — so `event_id`
  * (unique, time-correlated) is SCATTERED across that layout: every row
  * group's [min,max] spans nearly the whole id domain and stats prune
  * nothing, which is exactly the regime where the reference's per-label
  * blooms earn their keep. Small row groups / pages make one sf0.01
  * table behave like many-row-group production files.
  */
class BloomReadSpec extends AnyFunSuite {

  private val out = SparkFixture.tmp("bloom_store")

  // fine-grained layout: ~32 KiB row groups, ≤100-row pages, so one
  // 10k-row table produces many row groups and many pages per group
  private lazy val store: String = {
    SortedWriter.writeSorted(spark, "/root/testdata/sf0.01", out,
      writerOptions = Map(
        "parquet.block.size" -> "8192",
        "parquet.page.size" -> "4096",
        "parquet.page.row.count.limit" -> "100"))
    out
  }

  // an id from the middle of the domain — guaranteed present, and no
  // row group's [min,max] can exclude it by being a boundary value
  private lazy val probeId: Long = {
    val ids = spark.read.parquet(store).select("event_id")
      .orderBy("event_id").collect().map(_.getLong(0))
    ids(ids.length / 2)
  }

  test("parquet-mr row-group filters: blooms skip what min/max cannot") {
    val (statsSurv, total) =
      SortedWriter.survivingRowGroups(store, "event_id", probeId,
        useStats = true, useBloom = false)
    val (bloomSurv, _) =
      SortedWriter.survivingRowGroups(store, "event_id", probeId,
        useStats = true, useBloom = true)
    assert(total >= 8, s"need a many-row-group store, got $total")
    // the scattered id defeats min/max entirely…
    assert(statsSurv === total,
      s"stats pruned a scattered-id lookup?! $statsSurv of $total")
    // …while the bloom keeps only the group(s) that can contain it
    assert(bloomSurv < statsSurv, s"bloom=$bloomSurv stats=$statsSurv")
    assert(bloomSurv <= math.max(1, total / 4),
      s"bloom should prune most groups: kept $bloomSurv of $total")
  }

  test("Spark's scan reads fewer rows with blooms than with stats alone") {
    def lookup(opts: Map[String, String]) =
      spark.read.options(opts).parquet(store)
        .filter(col("event_id") === probeId)
    // column index off in both legs: isolate row-group-level pruning
    val ci = Map("parquet.filter.columnindex.enabled" -> "false")
    val bloomRows = scanOutputRows(lookup(ci))
    val statsRows = scanOutputRows(lookup(ci +
      ("parquet.filter.bloom.enabled" -> "false")))
    val totalRows = spark.read.parquet(store).count()
    assert(statsRows === totalRows,
      "without blooms the scattered-id lookup must read every row group")
    assert(bloomRows < statsRows / 2,
      s"bloom=$bloomRows stats=$statsRows — blooms must skip row groups")
    // pruning must not change the answer
    assert(lookup(Map.empty).collect().toSeq ===
      lookup(ci + ("parquet.filter.bloom.enabled" -> "false"))
        .collect().toSeq)
  }

  test("column index gives page-level row-range selection on the sort key") {
    // user_id is inside the sort order: page min/max are tight, so the
    // column index selects only the pages containing the key — the
    // Spark equivalent of the reference's row-range selection
    val uid = 42L
    def lookup(opts: Map[String, String]) =
      spark.read.options(opts).parquet(store)
        .filter(col("user_id") === uid)
    val pageRows = scanOutputRows(lookup(Map.empty))
    val groupRows = scanOutputRows(lookup(
      Map("parquet.filter.columnindex.enabled" -> "false")))
    assert(pageRows < groupRows / 2,
      s"pages=$pageRows rowgroups=$groupRows — column index must skip pages")
    assert(lookup(Map.empty).collect().toSeq ===
      lookup(Map("parquet.filter.columnindex.enabled" -> "false"))
        .collect().toSeq)
  }
}
