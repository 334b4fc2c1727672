package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the driver-generated star schema at a given sf dir.
  *
  * Mirrors the reference's notion of "a parquet file is the database"
  * (reference: db/file_reader.go, pqtest/file.go) — Spark's vectorized
  * parquet reader replaces the hand-rolled section loader
  * (reference: db/section.go, storage/chunked_reader.go).
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Normalized events frame: `ts` (TimestampType, µs instants) plus
    * `ts_ns` (epoch nanos, the engine's internal time axis — the
    * reference models time as int64 mint/maxt the same way, reference:
    * dataset/predicate.go, prometheus/querier.go:71-74).
    *
    * The driver has shipped `events.ts` as BOTH parquet TIMESTAMP(NANOS)
    * (Spark's vectorized reader refuses it → read as raw long ns via the
    * legacy conf) and TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ), so
    * the loader adapts on the physical schema. Whichever the layout,
    * both engines see identical microsecond instants (DuckDB truncates
    * ns → µs on read; µs it reads natively).
    *
    * Timestamps here are UTC wall-clock instants; the engine's
    * determinism contract pins the session to UTC (Verify/Bench already
    * do), which this loader re-asserts so the NTZ → instant
    * reinterpretation is the identity.
    */
  private def eventsNorm(spark: SparkSession, dir: String): DataFrame =
    eventsRanged(spark, dir, None)

  /** [[eventsNorm]] with an optional inclusive `[lo, hi]` epoch-ns range
    * applied to the RAW parquet column (long ns or NTZ µs, whichever the
    * layout has) so the bound reaches the scan as a PushedFilter and
    * prunes row groups — the reference's mint/maxt stats-selector trick.
    * Filters on the rebuilt `ts`/derived `ts_ns` columns cannot push
    * down (the rebuild blocks pushdown); callers still re-filter `ts_ns`
    * exactly, this range exists for pruning. At µs-granular data the µs
    * conversion (ceil lo / floor hi) is exact, not just a superset.
    */
  def eventsRanged(spark: SparkSession, dir: String,
                   boundsNs: Option[(Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) as raw ns
        val ranged = boundsNs.fold(raw) { case (lo, hi) =>
          raw.filter(col("ts") >= lo && col("ts") <= hi)
        }
        // `ts div 1000`, NOT `ts / 1000`: long/int is double division in
        // Spark, and doubles lose µs precision at 1.7e18 ns.
        ranged
          .withColumn("ts_ns", col("ts"))
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case dt => // TIMESTAMP(MICROS): TIMESTAMP_NTZ (or TIMESTAMP)
        val isNtz = dt == org.apache.spark.sql.types.TimestampNTZType
        def tsLit(us: Long) =
          if (isNtz) lit(java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC))
          else lit(java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))
        val ranged = boundsNs.fold(raw) { case (lo, hi) =>
          raw.filter(col("ts") >= tsLit(-Math.floorDiv(-lo, 1000L)) &&
            col("ts") <= tsLit(Math.floorDiv(hi, 1000L)))
        }
        ranged
          .withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000"))
    }
  }

  /** Scale-adaptive scan spread (optimization r18, guide §2.5): the
    * test corpora are single-row-group parquet files, so a scan gets
    * ONE input partition no matter the split config, serializing the
    * per-row work (tokenize / shingle / hash) that dominates the text
    * pipeline. When the scan plans fewer partitions than the session's
    * default parallelism, redistribute round-robin (deterministic
    * under retries via Spark's sort-before-repartition); at production
    * scale file and row-group counts exceed core counts and this is a
    * no-op. Filters still push down: Catalyst moves them below the
    * repartition to the scan. HASH partitioning on the table's unique
    * id, NOT round-robin: a keyless repartition pays a local sort of
    * the full rows (sortBeforeRepartition) inside the single-task map
    * side — measured 1.1 s on the text corpus, more than the spread
    * saved.
    */
  private[graft] def spreadSmallScan(s: SparkSession, df: DataFrame,
                                     key: String): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, org.apache.spark.sql.functions.col(key))
  }

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame   = eventsNorm(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")

  /** [[documents]] behind the scale-adaptive spread — OPT-IN per
    * operator: the spread wins where the corpus is consumed once by
    * per-row-heavy work (tokenize/shingle chains: measured 0.62-0.93x
    * on the LM and scrub families) and LOSES where the plan duplicates
    * the scan subtree many times (doc_contamination's plan carries the
    * scan ~28 times; a spread there added one exchange per copy).
    */
  def documentsSpread(s: SparkSession, d: String): DataFrame =
    spreadSmallScan(s, t(s, d, "documents"), "doc_id")

  /** Append to an sf dir to make [[embeddings]] serve the CLUSTERED
    * derived corpus instead of the raw near-orthogonal table.
    */
  val ClusteredTag = "#clustered"

  // Clustered-corpus formula constants — interpolated into BOTH the
  // Spark expression below and the DuckDB oracle CTE (Pipelines), so a
  // knob change cannot desynchronize the two engines.
  val ClCentMulT = 71   // centroid: ((label·T + (j−1)·J) mod M − O) / D
  val ClCentMulJ = 29
  val ClCentMod  = 13
  val ClCentOff  = 6
  val ClCentDen  = 8    // centroid components ∈ [−6/8, 6/8]
  val ClNoiseMulI = 7919 // noise: ((vec_id·I + (j−1)·J) mod M − O) / D
  val ClNoiseMulJ = 104729
  val ClNoiseMod  = 4097
  val ClNoiseOff  = 2048
  val ClNoiseDen  = 4096 // noise components ∈ (−1/2, 1/2]

  /** Per-element formula of the clustered corpus, as a SQL fragment both
    * engines evaluate EXACTLY: every term is an integer over a power-of-
    * two denominator (common denominator 4096, |numerator| ≤ 4096), so
    * the double arithmetic is exact and the float narrowing lossless —
    * no cross-engine rounding surface at all. `label` keys the topic
    * centroid (a mixture around 10 topic directions), `(vec_id, j)` keys
    * the within-topic noise at 1/3 the centroid amplitude: cosine mass
    * concentrates on topic-mates, which is what makes recall@k a real
    * retrieval-quality signal (the raw table is near-orthogonal — ANN
    * recall over it is unmeasurable noise).
    */
  def clusteredComponentSql(j: String): String =
    s"CAST(CAST((label * $ClCentMulT + ($j - 1) * $ClCentMulJ) % $ClCentMod - $ClCentOff AS DOUBLE) / $ClCentDen.0 + " +
      s"CAST((vec_id * $ClNoiseMulI + ($j - 1) * $ClNoiseMulJ) % $ClNoiseMod - $ClNoiseOff AS DOUBLE) / $ClNoiseDen.0 AS FLOAT)"

  /** [[embeddings]] behind the scale-adaptive spread (see
    * [[documentsSpread]]) — OPT-IN for corpus-sided per-row-heavy
    * consumers (trained-cell assignment, sketch projections over the
    * formula-derived clustered corpus). Query-side consumers keep the
    * plain loader: their selective vec_id filters push below the
    * repartition, so the spread would shuffle a handful of rows for
    * nothing but an extra stage.
    */
  /** The file [[embeddings]] reads for `d`. The clustered corpus is
    * derived from the same file, so a store or memo over embeddings keys
    * on this file plus [[clustered]].
    */
  def embeddingsFile(d: String): String = s"${d.stripSuffix(ClusteredTag)}/embeddings.parquet"
  def clustered(d: String): Boolean = d.endsWith(ClusteredTag)

  def embeddingsSpread(s: SparkSession, d: String): DataFrame =
    spreadSmallScan(s, embeddings(s, d), "vec_id")

  def embeddings(s: SparkSession, d: String): DataFrame =
    if (d.endsWith(ClusteredTag)) {
      val raw = t(s, d.stripSuffix(ClusteredTag), "embeddings")
      raw.select(
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.expr(
          s"transform(sequence(1, 64), j -> ${clusteredComponentSql("j")})")
          .as("embedding"),
        org.apache.spark.sql.functions.col("label"))
    } else t(s, d, "embeddings")
}
