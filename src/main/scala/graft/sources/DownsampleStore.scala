package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.streaming.{RollupMaintainStream => RMS}

/** Thanos/M3-style downsampling store: a 5-minute-resolution rollup of
  * the events TSDB, answering long-range aggregate queries from a table
  * that is orders of magnitude smaller than the raw samples.
  *
  * The reference serves every range query from raw chunk samples
  * (prometheus/querier.go); production TSDBs at 100 TB add downsampled
  * resolutions precisely because a one-year dashboard query must not
  * re-scan a year of raw samples. Each rollup row keeps the five
  * aggregates the resolution can serve losslessly for aligned windows
  * (count / sum / min / max) plus the deterministic first/last sample
  * (for gauge semantics), so query-time re-aggregation composes:
  *  - count, sum: re-aggregable exactly (sums stay DECIMAL in the
  *    store, so a 1000-way cluster merge is order-independent);
  *  - min, max: re-aggregable exactly;
  *  - first/last: arg-min/arg-max over the (µs, event_id) composite —
  *    deterministic because the pair is unique per sample.
  *
  * Build shape: one shuffle on (series, bucket) — the counter
  * partial's lag window (round 13) partitions on the same keys the
  * groupBy aggregates on, so the sort is bucket-local (bounded by one
  * bucket's samples per series, never a whole series) and the
  * aggregation reuses the window's partitioning. The store is
  * range-partitioned on the bucket and sorted by (bucket, series), so
  * a query over a time slice prunes row groups on bucket min/max
  * exactly like the raw sorted store.
  */
object DownsampleStore {

  /** 5-minute buckets — Thanos's first downsampling resolution. */
  val ResolutionSec: Long = 300L

  /** 1-hour buckets — the second level of the resolution chain (round
    * 14; Thanos keeps a 5m AND a 1h level for exactly this reason: a
    * year-wide dashboard reads 8.7k hourly rows/series where the 300 s
    * level reads 105k). Built FROM the 300 s store, never from raw —
    * the partial-merge identity (DECIMAL sums re-merge, order
    * statistics compose, endpoints chain, counter partials carry up)
    * is what q_downsample_1h oracle-proves.
    */
  val HourResolutionSec: Long = 3600L

  /** The day chain level's resolution (round 15). */
  val DayResolutionSec: Long = 86400L

  /** The rollup's SERVING schema — the one column list every consumer
    * (the MV rule, the stepped front-end, the stream store's reader)
    * selects, so the schema cannot drift between them (review r13).
    */
  val ServingCols: Seq[String] = Seq(
    "bucket", "user_id", "event_type", "n_samples", "sum_dec",
    "min_value", "max_value", "first_value", "last_value")

  /** The counter-verb serving schema: ServingCols plus the store's
    * inc_dec partial — defined HERE beside ServingCols so the two
    * lists cannot drift. The batch store always carries it; the stream
    * store carries it from schema rev c1 on (round 14), gated by its
    * `_schema_rev` marker.
    */
  val CounterServingCols: Seq[String] = ServingCols :+ "inc_dec"

  /** The ONE store reader every serving consumer goes through — the
    * Catalyst rule (plans/RollupRewrite.scala), the stepped front-end
    * (plans/SteppedRollup.scala) and the stream store's table() all
    * project through this helper, so the serving schema cannot drift
    * between them (ADVICE r13: the anti-drift guarantee was doc-only).
    */
  def readServing(s: SparkSession, path: String,
                  counters: Boolean = false): DataFrame =
    readServingPaths(s, Seq(path), counters)

  /** [[readServing]] over several store part dirs in one scan (the
    * stream chain's incremental fold dirs).
    */
  def readServingPaths(s: SparkSession, paths: Seq[String],
                       counters: Boolean = false): DataFrame =
    s.read.parquet(paths: _*).select(
      (if (counters) CounterServingCols else ServingCols).map(col): _*)

  /** Deterministic sample-order key: the (µs, event_id) STRUCT — the
    * exact total order the PromQL evaluator's max_by/min_by picks use,
    * with no headroom assumption on the id space (round 13: the old
    * `us·2^32 + event_id` packing reordered across microseconds once
    * event_id ≥ 2^32 — the dupScrub overflow class). The DuckDB mirror
    * packs `us·2^63 + event_id` (HUGEINT), order-identical to the
    * struct for any nonnegative BIGINT id. The pair is unique per
    * sample, so the arg-pick never ties.
    */
  private def orderKey = struct(col("us"), col("event_id"))

  /** The rollup frame: one row per (bucket, series) with re-aggregable
    * aggregates. `sum_value` stays DECIMAL so downstream re-aggregation
    * is exact; callers lower to DOUBLE only at output edges.
    */
  def rollup(s: SparkSession, dir: String): DataFrame =
    rollupOf(Tables.events(s, dir))

  /** [[rollup]] over an arbitrary events frame — the out-of-order
    * backfill job (streaming/RollupBackfill.scala) recomputes affected
    * buckets from the repaired source with EXACTLY the store build's
    * arithmetic by going through this one definition.
    */
  private[graft] def rollupOf(events: DataFrame): DataFrame = {
    // COUNTER partials (round 13, Thanos's counter aggregate): the
    // bucket carries the sum of its WITHIN-bucket reset-corrected
    // growths; cross-bucket pairs are reconstructed at query time from
    // the stored endpoints. The lag window partitions by (series,
    // BUCKET), not just series: only same-bucket pairs survive anyway
    // (each bucket's first row gets a NULL prev, exactly the excluded
    // cross-bucket pair), the shuffle aligns with the groupBy keys, and
    // a hot series can never pile onto one sort task (review r13).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type", "bucket")
      .orderBy(col("us"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      // `div`, not `/`: long/long is DOUBLE division in Spark and µs
      // magnitudes sit near double's exact-integer edge (Tables.scala
      // documents the same trap for the ns→µs truncation)
      .withColumn("bucket", expr(s"(us div ${ResolutionSec * 1000000L}) * $ResolutionSec"))
      .withColumn("__prev_v", lag("value", 1).over(w))
      .groupBy(col("bucket"), col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n_samples"),
        sum(col("value").cast("decimal(30,6)")).as("sum_dec"),
        min("value").as("min_value"),
        max("value").as("max_value"),
        min_by(col("value"), orderKey).as("first_value"),
        max_by(col("value"), orderKey).as("last_value"),
        // Σ reset-corrected growth over same-bucket consecutive pairs,
        // quantized PER PAIR exactly like the evaluator's exactSum
        sum(when(col("__prev_v").isNotNull,
          when(col("value") >= col("__prev_v"),
            col("value") - col("__prev_v")).otherwise(col("value")))
          .cast("decimal(30,6)")).as("inc_dec"))
  }

  // `c1` = counter-partials schema revision (round 13): a schema
  // extension is a new tag, so pre-c1 stores on disk are orphaned,
  // never half-read. Every level keys on the events fingerprint.
  private def tag(resolutionSec: Long): String = s"downsample_${resolutionSec}s_c1"

  private def path(s: SparkSession, dir: String, resolutionSec: Long): String =
    graft.Artifact.path(s, tag(resolutionSec), s"$dir/events.parquet")

  /** Public 1 h-store location — the existence probe of the serving
    * resolver's level pick (plans/RollupServing.scala).
    */
  def storePath1h(s: SparkSession, dir: String): String =
    path(s, dir, HourResolutionSec)

  /** Public 1 d-store location (picker existence probe, round 15). */
  def storePath1d(s: SparkSession, dir: String): String =
    path(s, dir, DayResolutionSec)

  /** One chain fold: a finer-level rollup frame re-aggregated into
    * `R`-second parent buckets (300 s → 1 h → 1 d; at 100 TB each level
    * reads rollup rows, never raw samples):
    *  - n_samples / sum_dec: partial sums merge exactly (DECIMAL);
    *  - min/max: order statistics compose;
    *  - first/last: the extreme NON-EMPTY child bucket's stored
    *    endpoint (one store row per (series, child bucket), so the
    *    arg-pick never ties);
    *  - inc_dec: Σ child inc_dec + Σ boundary growths between
    *    consecutive non-empty child buckets inside the parent,
    *    reconstructed from the stored endpoints and quantized per pair
    *    exactly like the evaluator's exactSum — together exactly the
    *    parent's within-bucket reset-corrected pair sum.
    * The lag window partitions by (series, parent bucket), so the sort
    * is parent-local (≤ parent/child rows per series per parent) and
    * aligned with the groupBy keys — one shuffle, no hot-series pileup.
    */
  private[graft] def rollupFrom(child: DataFrame, R: Long): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 6)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type", "pbucket")
      .orderBy(col("bucket"))
    child
      .withColumn("pbucket", expr(s"(bucket div $R) * $R"))
      .withColumn("__prev_last", lag("last_value", 1).over(w))
      .withColumn("__binc",
        when(col("__prev_last").isNull, lit(null))
          .otherwise(when(col("first_value") >= col("__prev_last"),
            col("first_value") - col("__prev_last"))
            .otherwise(col("first_value"))).cast(dec))
      .groupBy(col("pbucket"), col("user_id"), col("event_type"))
      .agg(
        sum("n_samples").as("n_samples"),
        sum("sum_dec").as("sum_dec"),
        min("min_value").as("min_value"),
        max("max_value").as("max_value"),
        min_by(col("first_value"), col("bucket")).as("first_value"),
        max_by(col("last_value"), col("bucket")).as("last_value"),
        // null iff the parent contains no pair at all (mirrors the raw
        // build's sum-over-no-rows NULL); else merge both partial kinds
        when(sum("inc_dec").isNull && sum("__binc").isNull,
          lit(null).cast(dec))
          .otherwise(coalesce(sum("inc_dec"), zero) +
            coalesce(sum("__binc"), zero)).as("inc_dec"))
      .withColumnRenamed("pbucket", "bucket")
  }

  /** Write-once 1 h store, built from the committed 300 s level (the
    * chain).
    */
  private def ensureWritten1h(s: SparkSession, dir: String): String =
    ensureWrittenLevel(s, dir, HourResolutionSec, ensureWritten(s, dir))

  private def ensureWritten1d(s: SparkSession, dir: String): String =
    ensureWrittenLevel(s, dir, DayResolutionSec, ensureWritten1h(s, dir))

  /** Write-once build of one chain level from the committed finer level
    * at `fine`. Born with its own `_edge_count` marker: a sample on an
    * `R`-second boundary is necessarily on the FINER level's boundary
    * (the finer resolution divides R), so a clean finer store proves
    * this level clean for free; only a dirty finer store pays a raw
    * count at build time.
    */
  private def ensureWrittenLevel(s: SparkSession, dir: String,
                                 resolutionSec: Long, fine: String): String =
    graft.Artifact(s, tag(resolutionSec), s"$dir/events.parquet") { out =>
      rollupFrom(s.read.parquet(fine), resolutionSec)
        .repartitionByRange(
          ChunkStore.targetPartitions(s, storePath(s, dir)), col("bucket"))
        .sortWithinPartitions("bucket", "event_type", "user_id")
        .write.mode(SaveMode.Overwrite).parquet(out)
      RMS.writeMarker(out, "_edge_count",
        if (RMS.edgeCount(fine).contains(0L)) 0L
        else rawEdgeCount(s, dir, resolutionSec))
    }

  /** The stored 1 h rollup (chain-built on first access). */
  def table1h(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureWritten1h(s, dir))

  /** The stored 1 d rollup (chain-built on first access: 300 s → 1 h →
    * 1 d, each level reading only the one below — never raw samples).
    */
  def table1d(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureWritten1d(s, dir))

  /** Public store location for a dataset dir — the existence probe the
    * serving resolver (plans/RollupServing.scala) uses as its freshness
    * gate (the path carries the source fingerprint: committed ⇔ fresh).
    */
  def storePath(s: SparkSession, dir: String): String =
    path(s, dir, ResolutionSec)

  /** Write-once 300 s store. Range-partitioned on bucket, sorted by
    * (bucket, event_type, user_id) so time-slice queries prune on
    * row-group bucket stats.
    */
  private def ensureWritten(s: SparkSession, dir: String): String =
    graft.Artifact(s, tag(ResolutionSec), s"$dir/events.parquet") { out =>
      rollup(s, dir)
        .repartitionByRange(
          ChunkStore.targetPartitions(s, s"$dir/events.parquet"), col("bucket"))
        .sortWithinPartitions("bucket", "event_type", "user_id")
        .write.mode(SaveMode.Overwrite).parquet(out)
      RMS.writeMarker(out, "_edge_count", rawEdgeCount(s, dir, ResolutionSec))
    }

  /** Count of raw samples sitting EXACTLY on a bucket boundary, as a
    * store-side marker. Stepped PromQL windows are (t − W, t] — open at
    * the left — so a W-window is an exact union of buckets only when no
    * sample's µs timestamp is a multiple of the resolution (the one
    * point a bucket holds that its covering window excludes). The count
    * is computed once per write-once store and committed with it; the
    * open-left serving consumers (plans/RollupServing.scala) refuse any
    * store whose count is nonzero.
    */
  private def rawEdgeCount(s: SparkSession, dir: String,
                           resolutionSec: Long): Long =
    Tables.events(s, dir)
      .filter(expr(s"unix_micros(ts) % ${resolutionSec * 1000000L} = 0"))
      .count()

  /** The stored rollup table (built on first access). */
  def table(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(ensureWritten(s, dir))

  /** The rollup as a query result: DECIMAL lowered to DOUBLE at the
    * output edge. Oracle: the same aggregation over raw events.
    */
  def downsample(s: SparkSession, dir: String): DataFrame =
    table(s, dir).select(
      col("bucket"), col("user_id"), col("event_type"), col("n_samples"),
      col("sum_dec").cast("double").as("sum_value"),
      col("min_value"), col("max_value"), col("first_value"), col("last_value"))

  /** Hourly `sum by (event_type)` answered FROM the rollup: buckets
    * re-aggregate into their enclosing hour (300 s divides 3600 s), the
    * DECIMAL partial sums merge exactly, and the result must reproduce
    * the raw-data q_range_sum_by bit-for-bit — the downsampling
    * correctness contract. At 100 TB this is the win: the hour query
    * scans rollup rows (≤ series × 12/hour) instead of raw samples.
    */
  def downsampleSum(s: SparkSession, dir: String): DataFrame =
    table(s, dir)
      .groupBy(expr("(bucket div 3600) * 3600").as("step"), col("event_type"))
      .agg(sum("sum_dec").cast("double").as("sum_value"))

  /** The 1 h chain level as a query result, INCLUDING the carried
    * counter partial (inc_sum, DOUBLE at the output edge — null when
    * the hour holds no consecutive pair, mirroring the raw build).
    * Oracle: the same aggregation straight over raw events, with the
    * within-hour lag pairs — one SQL statement proving every carried
    * partial (sums, order stats, endpoints, AND the counter chain)
    * re-merges bit-exactly through the 300 s level.
    */
  def downsample1h(s: SparkSession, dir: String): DataFrame =
    table1h(s, dir).select(
      col("bucket"), col("user_id"), col("event_type"), col("n_samples"),
      col("sum_dec").cast("double").as("sum_value"),
      col("min_value"), col("max_value"), col("first_value"),
      col("last_value"), col("inc_dec").cast("double").as("inc_sum"))

  /** Daily `sum by (event_type)` answered from the 1 h level — the
    * year-dashboard shape: 24 hourly rows/series/day instead of 288
    * 300 s rows, and the DECIMAL partials still merge exactly (the
    * chain's whole point). Oracle: the same daily sum over raw events.
    */
  def downsampleSum1d(s: SparkSession, dir: String): DataFrame =
    table1h(s, dir)
      .groupBy(expr("(bucket div 86400) * 86400").as("step"), col("event_type"))
      .agg(sum("sum_dec").cast("double").as("sum_value"))

  /** The 1 d chain level as a query result (round 15) — the
    * twice-folded store: 300 s partials merged into hours, hours into
    * days. Oracle: the same aggregation straight over raw events with
    * within-DAY lag pairs — one hash proving sums, order stats,
    * endpoints AND the counter chain re-merge bit-exactly through TWO
    * levels of re-aggregation.
    */
  def downsample1d(s: SparkSession, dir: String): DataFrame =
    table1d(s, dir).select(
      col("bucket"), col("user_id"), col("event_type"), col("n_samples"),
      col("sum_dec").cast("double").as("sum_value"),
      col("min_value"), col("max_value"), col("first_value"),
      col("last_value"), col("inc_dec").cast("double").as("inc_sum"))
}
