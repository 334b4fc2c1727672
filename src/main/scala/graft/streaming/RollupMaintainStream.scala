package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** STREAMING maintenance of the downsample rollup as a QUERYABLE STORE
  * (round 13; VERDICT r12 #2) — the near-real-time dashboard loop: the
  * batch MV (sources/DownsampleStore.scala) trails ingest by a nightly
  * build; this job keeps a rollup store trailing the live stream by
  * only the watermark delay, and the MV rewrite
  * (plans/RollupRewrite.scala) serves opted-in queries from it with an
  * EXPLICIT staleness bound in place of the write-once existence gate.
  *
  * Mechanics: [[StreamAgg.downsampleStream]]'s aggregation — the same
  * (bucket × series) measures as the batch store, with the DECIMAL
  * partial sums kept decimal (the rewrite's bit-exactness hinges on
  * re-merging exact partials) — runs in APPEND mode, so a (bucket,
  * series) row is emitted exactly once, when the event-time watermark
  * passes the bucket's end and the row is FINAL. Emissions land in
  * batch-id-keyed parts (the streaming/Ingest.scala exactly-once
  * discipline: a replayed batch overwrites its own `parts/batch=<id>`
  * with the deterministic recompute; a fresh checkpoint over existing
  * parts is refused), so the served store is a plain parquet read —
  * no upsert resolution, every row final.
  *
  * Staleness as metadata: after each maintenance pass the pass's
  * event-time watermark is published atomically as the store's
  * `_watermark` marker. The marker is the store's completeness
  * contract — every bucket ending at or before it has been flushed —
  * and the rewrite serves ONLY query steps whose whole window closes
  * at or before the marker (a half-flushed hour must not serve as the
  * hour's total). Queries therefore trail live data by watermark +
  * one maintenance cadence, never silently under-count.
  *
  * 100 TB shape: the stream's state is open buckets only (watermark-
  * bounded); each part holds final rollup rows (series × buckets per
  * cadence), and the served store is rollup-sized regardless of ingest
  * volume — the same argument as the batch MV, made continuous.
  */
object RollupMaintainStream {

  /** One buffered sample of an open bucket. */
  case class BSample(us: Long, event_id: Long, value: Double)

  /** An open bucket's buffer as three primitive-array columns (ADVICE
    * r14): one struct object per sample in a `Seq[BSample]` state row
    * costs a per-element struct encoder round-trip every micro-batch;
    * primitive arrays encode as three packed vectors. The state is
    * still rewritten once per micro-batch touching the group (that's
    * inherent to flatMapGroupsWithState), but each rewrite is an
    * O(n) array concat of unboxed values, not n boxed structs.
    * NOTE: this is a STATE-schema change — a checkpoint holding the
    * old Seq[BSample] state refuses to resume (Spark's state-schema
    * validation), which is the right failure: rebuild the store.
    */
  case class BState(us: Array[Long], eid: Array[Long], value: Array[Double])

  /** A finalized rollup row — the stream store's part schema. Rev c1
    * (round 14; VERDICT r13 #2) carries the COUNTER PARTIAL `inc_dec`
    * the batch store already has, closing the stepped front-end's
    * stream-store rate/increase veto: sum_dec and inc_dec stay exact
    * decimals (the rewrite's bit-exactness hinges on re-merging exact
    * partials), n_edge feeds the `_edge_count` marker.
    */
  case class BRow(bucket: Long, user_id: Long, event_type: String,
      n_samples: Long, sum_dec: java.math.BigDecimal, min_value: Double,
      max_value: Double, first_value: Double, last_value: Double,
      inc_dec: java.math.BigDecimal, n_edge: Long)

  /** Spark SQL's double semantics on the JVM (PromqlStream's sqlCmp):
    * NaN equals NaN and sorts greatest; -0.0 equals 0.0 — the fold
    * must pick the same min/max/reset verdicts as the batch store's
    * SQL aggregation.
    */
  private def sqlCmp(a: Double, b: Double): Int = {
    def norm(v: Double) = if (v == 0.0) 0.0 else v
    java.lang.Double.compare(norm(a), norm(b))
  }

  /** cast(double as decimal(30,6)) replicated on the JVM — Spark's
    * decimal cast rounds the shortest decimal string HALF_UP.
    */
  private def q6(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)

  /** The batch rollup's per-bucket measures, folded once over the
    * complete (watermark-proven) bucket buffer in (µs, event_id) order
    * — bit-for-bit the batch store's arithmetic: per-value/per-pair
    * decimal-6 quantization, SQL double comparisons, endpoint picks by
    * the same unique total order. Unlike the windowed aggregation this
    * fold sees the WHOLE bucket at once, so within-bucket consecutive
    * pairs (the inc_dec counter partial) are computable even when the
    * bucket's samples arrived across many micro-batches.
    */
  private def foldBucket(bucket: Long, uid: Long, et: String,
                         b: BState): BRow = {
    val sorted = Array.tabulate(b.us.length)(i =>
      BSample(b.us(i), b.eid(i), b.value(i))).sortBy(r => (r.us, r.event_id))
    var sum = java.math.BigDecimal.ZERO
    var inc: java.math.BigDecimal = null
    var mn = sorted.head.value
    var mx = sorted.head.value
    var prev = 0.0
    var first = true
    var edges = 0L
    sorted.foreach { r =>
      sum = sum.add(q6(r.value))
      if (sqlCmp(r.value, mn) < 0) mn = r.value
      if (sqlCmp(r.value, mx) > 0) mx = r.value
      if (!first) {
        val growth =
          if (sqlCmp(r.value, prev) >= 0) r.value - prev else r.value
        inc = (if (inc == null) java.math.BigDecimal.ZERO else inc)
          .add(q6(growth))
      }
      first = false
      prev = r.value
      if (r.us % (ResolutionSec * 1000000L) == 0) edges += 1
    }
    BRow(bucket, uid, et, sorted.size, sum, mn, mx,
      sorted.head.value, sorted.last.value, inc, edges)
  }

  /** The maintained store's rollup frame: identical measures to the
    * batch store's (DownsampleStore.rollup) INCLUDING the inc_dec
    * counter partial (rev c1), via per-(series, bucket) buffered state
    * — the PromqlStream buffered-window pattern: state holds exactly
    * one OPEN bucket's samples per series (watermark-bounded, ≤ 300 s
    * of samples), the fold runs once when the event-time watermark
    * proves the bucket complete, and the row emits exactly once
    * (Append semantics). A plain windowed aggregation cannot carry
    * inc_dec: within-bucket pair order is not an incremental aggregate
    * when a bucket's samples split across micro-batches.
    */
  private def rollupStream(s: SparkSession, inDir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import s.implicits._
    val R = ResolutionSec
    Ingest.eventsStream(s, inDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id").cast("long"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id").cast("long"),
        col("value").cast("double"), col("ts"))
      .as[(Long, String, Long, Long, Double, java.sql.Timestamp)]
      .groupByKey { case (uid, et, us, _, _, _) =>
        (uid, et, Math.floorDiv(Math.floorDiv(us, 1000000L), R) * R)
      }
      .flatMapGroupsWithState[BState, BRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout) {
        case ((uid, et, bucket), rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed the bucket end: the bucket is complete
            val out = state.getOption
              .map(b => foldBucket(bucket, uid, et, b))
            state.remove()
            out.iterator
          } else {
            val prev = state.getOption
              .getOrElse(BState(Array.empty, Array.empty, Array.empty))
            val add = rows.toArray
            state.update(BState(
              prev.us ++ add.map(_._3),
              prev.eid ++ add.map(_._4),
              prev.value ++ add.map(_._5)))
            // EventTimeTimeout fires only when the watermark STRICTLY
            // exceeds the timeout, so anchor it at bucket-end − 1 ms:
            // the group times out once wm >= bucket end, which is
            // exactly the horizon contract runOnce publishes (`every
            // bucket ending at or before _watermark is flushed`).
            // Anchoring at bucket-end itself left the newest bucket
            // unflushed whenever the final watermark landed exactly on
            // a bucket boundary, while the horizon admitted its step —
            // a silently incomplete step total (ADVICE r14, high).
            state.setTimeoutTimestamp(math.max((bucket + R) * 1000L - 1L,
              state.getCurrentWatermarkMs() + 1L))
            Iterator.empty
          }
      }
      .toDF()
  }

  /** The downsample resolution (seconds) — same as the batch store's. */
  private val ResolutionSec: Long = graft.sources.DownsampleStore.ResolutionSec

  /** The store's completeness horizon (epoch seconds): every bucket
    * ending at or before it is flushed and final. Absent marker = no
    * completed maintenance pass = nothing servable.
    */
  def horizonSec(storeDir: String): Option[Long] =
    readMarker(storeDir, "_watermark")

  /** The `_edge_count` marker of a rollup store dir — a stream store or
    * one batch chain level: the count of samples sitting exactly on a
    * bucket boundary (open-left serving refuses a nonzero count). None
    * until a maintenance pass or the level's build writes it.
    */
  def edgeCount(storeDir: String): Option[Long] =
    readMarker(storeDir, "_edge_count")

  private[graft] def readMarker(storeDir: String, name: String): Option[Long] =
    readText(storeDir, name).map(_.toLong)

  private def readText(storeDir: String, name: String): Option[String] = {
    val marker = new java.io.File(storeDir, name)
    if (!marker.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(marker.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim)
  }

  private[graft] def writeMarker(storeDir: String, name: String,
                                 value: Long): Unit =
    writeMarker(storeDir, name, value.toString)

  private[graft] def writeMarker(storeDir: String, name: String,
                                 value: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    val tmp = java.io.File.createTempFile("mrk", ".tmp",
      new java.io.File(storeDir))
    java.nio.file.Files.write(tmp.toPath,
      value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp.toPath,
      new java.io.File(storeDir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The events-table dir this store was maintained FROM — the binding
    * the rewrite checks so one session's StreamStoreConf can never
    * serve a DIFFERENT dataset's queries (review r13: the store must
    * carry its source identity, not trust the conf blindly).
    */
  def sourceDir(storeDir: String): Option[String] =
    readText(storeDir, "_source_dir")

  /** True iff the store's endpoint picks were chosen under the current
    * struct (us, event_id) order key — serving refuses anything else.
    */
  def keyRevOk(storeDir: String): Boolean =
    readText(storeDir, "_key_rev").contains("struct1")

  /** True iff the store's parts carry the c1 counter partial (inc_dec)
    * — the stepped front-end's gate for serving rate/increase from the
    * stream store. Pre-c1 stores keep serving the lossless verbs (the
    * ServingCols projection never reads inc_dec) but refuse counters.
    */
  def counterRevOk(storeDir: String): Boolean =
    readText(storeDir, "_schema_rev").contains("c1")

  /** One AvailableNow maintenance pass: new event files under `inDir`
    * (a landing dir receiving `sourceDir`'s events) advance the rollup
    * store at `storeDir`; finalized bucket rows land exactly once under
    * `parts/batch=<id>`, then the pass's markers are published —
    * `_edge_count` BEFORE `_watermark`: a crash between the two leaves
    * a higher edge count with a lower horizon (refuses more, never
    * serves a boundary-dirty window), whereas the reverse order could
    * pass the stepped gate on a stale-low edge count.
    */
  def runOnce(s: SparkSession, inDir: String, storeDir: String,
              checkpoint: String, sourceDir: String): Unit = {
    val parts = s"$storeDir/parts"
    NearDupStream.guardFreshCheckpoint(parts, checkpoint)
    val srcMarker = new java.io.File(storeDir, "_source_dir")
    if (srcMarker.isFile) {
      val stored = this.sourceDir(storeDir).get
      require(stored == sourceDir,
        s"$storeDir was maintained from $stored, not $sourceDir")
      // a pre-c1 store's parts lack inc_dec: appending c1 rows would
      // mix part schemas under one read — refuse, like a key-rev
      // mismatch (rebuild the store under the new revision instead)
      require(counterRevOk(storeDir),
        s"$storeDir predates the c1 part schema (inc_dec); rebuild it")
    } else {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(storeDir))
      java.nio.file.Files.write(srcMarker.toPath,
        sourceDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // order-key revision: struct (us, event_id) picks (round 13).
      // Serving requires this marker, so a store whose endpoints were
      // chosen under the old overflow-prone packed key can never serve
      // (the batch store's _c1_ path bump, as a marker)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(storeDir, "_key_rev"),
        "struct1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // part-schema revision: c1 = the inc_dec counter partial is
      // present (round 14). Written only at store CREATION, so a
      // pre-c1 store resumed under new code keeps its honest marker
      // state (its old parts lack the column) and counter serving
      // stays vetoed there.
      java.nio.file.Files.write(
        java.nio.file.Paths.get(storeDir, "_schema_rev"),
        "c1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val q = rollupStream(s, inDir).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // skip EMPTY batches: Spark writes a schema-only parquet part
        // even for zero rows, which would satisfy servableParts's
        // data-file probe on a store that never flushed anything
        // (ADVICE r14). Determinism makes the skip replay-stable: a
        // replayed batch recomputes the same rows, so its dir's
        // presence/absence cannot flip across retries.
        if (!batch.isEmpty)
          batch.write.mode("overwrite").parquet(s"$parts/batch=$batchId")
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // edge count first (see the ordering note above); coalesce covers
    // the empty-store first pass (sum over zero rows is NULL). The sum
    // runs over the marker-gated serving view — after a compaction,
    // consolidated rows live under compact/, not parts/
    servingPaths(storeDir).foreach { paths =>
      val edges = s.read.parquet(paths: _*)
        .agg(coalesce(sum("n_edge"), lit(0L))).collect()(0).getLong(0)
      writeMarker(storeDir, "_edge_count", edges)
    }
    // then the pass's event-time watermark as the staleness bound:
    // append mode flushed every bucket ending at or before it. The
    // marker only ever advances (a drained pass reports no progress —
    // keep the previous horizon rather than regressing to None).
    val wm = Option(q.lastProgress)
      .flatMap(p => Option(p.eventTime.get("watermark")))
      .map(ts => java.time.Instant.parse(ts).getEpochSecond)
    wm.foreach { h =>
      val prev = horizonSec(storeDir).getOrElse(Long.MinValue)
      if (h > prev) writeMarker(storeDir, "_watermark", h)
    }
    // the compactor runs behind the writer (round 16): fold the pass's
    // newly closed hours/days into the chain levels — incremental, so
    // a pass that closed nothing costs two marker reads
    foldChain(s, storeDir)
  }

  /** CHAIN LEVELS FOLDED BEHIND THE LIVE WRITER (round 16; VERDICT r15
    * #2 — the Thanos compactor posture: the compactor runs behind the
    * receiver, downsampling blocks the moment they close): after each
    * maintenance pass, closed parents of the 300 s stream store fold
    * into a 1 h level, and closed days of the 1 h level into a 1 d
    * level, via the SAME generalized partial-merge the batch chain
    * uses (DownsampleStore.rollupFrom) — so a year-wide dashboard over
    * LIVE data reads hourly/daily rows for its closed range instead of
    * 288× more 300 s rows.
    *
    * Incremental and crash-safe: each fold pass reads only child rows
    * in [prevHorizon, newClosed) — parents already final under the
    * child's horizon — writes them to a write-once `inc_<a>_<b>` dir
    * (the name is a pure function of the marker state, so a crash
    * between the write and the marker advance re-runs the SAME
    * deterministic increment into the SAME dir as an overwrite), then
    * advances the level's own `_horizon` marker. An EMPTY increment
    * advances the marker without writing a dir (the servableParts
    * posture: data presence is probed, never assumed). Boundary
    * soundness inherits from the parent store: 300 | 3600 | 86400, so
    * the stream store's `_edge_count` = 0 gate (already required for
    * any stream serving) proves every level clean.
    */
  def foldChain(s: SparkSession, storeDir: String): Unit = {
    import graft.sources.DownsampleStore
    for (h <- horizonSec(storeDir); paths <- servingPaths(storeDir)) {
      foldLevel(s, storeDir,
        DownsampleStore.readServingPaths(s, paths, counters = true), h, 3600L)
      for ((incs, h1h) <- foldedLevel(storeDir, 3600L))
        foldLevel(s, storeDir,
          DownsampleStore.readServingPaths(s, incs, counters = true),
          h1h, 86400L)
    }
  }

  private def foldLevel(s: SparkSession, storeDir: String,
                        child: org.apache.spark.sql.DataFrame,
                        childHorizon: Long, r: Long): Unit = {
    val dir = s"$storeDir/fold_${r}s"
    val prev = readMarker(dir, "_horizon")
    val hClosed = Math.floorDiv(childHorizon, r) * r
    if (prev.exists(_ >= hClosed)) return
    val bounded = prev.fold(child.filter(col("bucket") < hClosed))(p =>
      child.filter(col("bucket") >= p && col("bucket") < hClosed))
    val inc = graft.sources.DownsampleStore.rollupFrom(bounded, r)
    // ADVICE r16 (high): a crash after a committed inc write but before
    // the marker advance leaves an orphan inc_<prev>_<h1>; if the child
    // horizon then advances, this pass writes inc_<prev>_<h2> whose
    // range CONTAINS the orphan's — serving both double-counts
    // [prev, h1). Any sibling starting at the current marker is by
    // construction unmarked (the marker still reads prev) or about to
    // be superseded by this wider deterministic recompute — delete it.
    val start = prev.getOrElse(Long.MinValue)
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(s"inc_${start}_"))
      .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    // write unconditionally — an isEmpty probe would COMPUTE the whole
    // increment once just to decide, then the write computes it again
    // (2x fold cost per pass at scale). A genuinely empty increment
    // leaves a data-less dir that [[foldedLevel]]'s file probe simply
    // never serves; emptiness is CORRECT there (the fold is complete
    // over its range, so no rows means no data in those parents).
    val out = s"$dir/inc_${prev.getOrElse(Long.MinValue)}_$hClosed"
    inc.repartitionByRange(
        math.max(1, s.sparkContext.defaultParallelism / 8), col("bucket"))
      .sortWithinPartitions("bucket", "event_type", "user_id")
      .write.mode("overwrite").parquet(out)
    writeMarker(dir, "_horizon", hClosed)
  }

  /** One parsed increment dir: covers buckets [a, b), written at refold
    * generation g (0 for plain increments; compaction/backfill rewrites
    * of an existing range bump it so the newest rewrite wins).
    */
  private[graft] case class IncDir(a: Long, b: Long, g: Long, path: String)

  private[graft] def parseInc(f: java.io.File): Option[IncDir] = {
    val t = f.getName.stripPrefix("inc_").split('_')
    if (t.length < 2) None
    else scala.util.Try(IncDir(t(0).toLong, t(1).toLong,
      t.lift(2).map(_.stripPrefix("g").toLong).getOrElse(0L),
      f.getPath)).toOption
  }

  private[graft] def dataBearing(f: java.io.File): Boolean =
    f.isDirectory && new java.io.File(f, "_SUCCESS").isFile &&
      Option(f.listFiles()).getOrElse(Array.empty).exists(p =>
        p.isFile && p.getName.endsWith(".parquet") && p.length() > 0L)

  /** The folded level's data-bearing increment dirs and horizon, iff
    * the level has both a committed marker and committed rows — the
    * serving probe (SteppedRollup's stream bands resolve through it).
    *
    * Serves the MARKER-CONSISTENT chain only (ADVICE r16, high): dirs
    * are parsed as ranges `inc_<a>_<b>[ _g<gen>]` and selected
    * greedily by descending end — a dir joins only when its whole
    * range sits at or below the running lower bound (initially the
    * `_horizon` marker), so a crash-orphaned increment whose range
    * overlaps a later, wider recompute can never serve alongside it
    * and double-count rows. Equal ranges resolve to the highest
    * generation (the newest rewrite); gaps between selected dirs are
    * genuinely-empty increments (a horizon advance over no data), not
    * holes — the marker proves the fold complete over [-inf, horizon).
    */
  def foldedLevel(storeDir: String,
                  r: Long): Option[(Seq[String], Long)] = {
    val dir = new java.io.File(storeDir, s"fold_${r}s")
    for {
      h <- readMarker(dir.getPath, "_horizon")
      parsed = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.startsWith("inc_") && dataBearing(f))
        .flatMap(parseInc)
        // one candidate per range: the newest generation
        .groupBy(d => (d.a, d.b)).values.map(_.maxBy(_.g)).toSeq
        // widest-coverage-first on ties (a consolidated dir beats the
        // chain tail it subsumes); then walk down the bucket axis
        .sortBy(d => (-d.b, d.a, -d.g))
      chain = parsed.foldLeft((List.empty[IncDir], h)) {
        case ((acc, bound), d) =>
          if (d.b <= bound) (d :: acc, d.a) else (acc, bound)
      }._1
      incs = chain.map(_.path).sorted
      if incs.nonEmpty
    } yield (incs, h)
  }

  /** The parts path iff at least one maintenance batch actually landed
    * rows there — the gate every serving path resolves through (ADVICE
    * r13: a `_watermark` published on a zero-data pass, with no parts
    * on disk, must fall back to raw serving, not throw at plan time).
    * PRE-COMPACTION probe only: once RollupCompactor has run, rows live
    * under `compact/` too — serving resolves through [[servingPaths]].
    */
  def servableParts(storeDir: String): Option[String] = {
    val parts = new java.io.File(storeDir, "parts")
    val entries = Option(parts.listFiles()).getOrElse(Array.empty)
    // a committed batch that emitted ZERO rows still leaves its
    // batch=<id> directory (with only a _SUCCESS marker) — bare
    // directory existence is not proof rows landed (ADVICE r14), so
    // probe for an actual parquet data file before declaring servable
    def hasData(f: java.io.File): Boolean =
      f.isFile && f.getName.endsWith(".parquet") && f.length() > 0L
    if (entries.exists(f => hasData(f) || (f.isDirectory &&
        Option(f.listFiles()).getOrElse(Array.empty).exists(hasData))))
      Some(parts.getPath)
    else None
  }

  /** The raw level's data-bearing serving dirs under the `_compact`
    * marker-gated view (round 17; VERDICT r16 #1): the committed
    * compacted dir (batches <= upTo, consolidated write-once) plus the
    * live `parts/batch=<id>` dirs with id > upTo. With no compaction
    * marker this is just the data-bearing batch dirs — the pre-round-17
    * view. None = nothing servable (the ADVICE r13 fallback).
    * Mid-swap consistency: the marker commits the view atomically —
    * batches being superseded are excluded by the id filter the moment
    * the marker lands, and remain on disk until the cleanup, so every
    * resolution of this probe sees each row exactly once.
    */
  def servingPaths(storeDir: String): Option[Seq[String]] = {
    val st = RollupCompactor.state(storeDir)
    val upTo = st.map(_.upTo).getOrElse(Long.MinValue)
    val compacted = st.map(c => RollupCompactor.compactDir(storeDir, c))
      .filter(dataBearingLoose).map(_.getPath)
    val live = Option(new java.io.File(storeDir, "parts").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch=") &&
        scala.util.Try(f.getName.stripPrefix("batch=").toLong)
          .toOption.exists(_ > upTo) && dataBearingLoose(f))
      .map(_.getPath).toSeq.sorted
    val all = compacted.toSeq ++ live
    if (all.isEmpty) None else Some(all)
  }

  /** [[dataBearing]] without the `_SUCCESS` requirement — streaming
    * foreachBatch parquet writes commit without the marker file, so the
    * batch-dir probe keys on data files alone (servableParts's rule).
    */
  private def dataBearingLoose(f: java.io.File): Boolean =
    f.isDirectory &&
      Option(f.listFiles()).getOrElse(Array.empty).exists(p =>
        p.isFile && p.getName.endsWith(".parquet") && p.length() > 0L)

  /** The source guard of a stream-maintained demo store at `base`:
    * unless its `_source_fp` marker equals `fp` (the corpus'
    * graft.Artifact fingerprint), the store's `dirs` (inbox, output,
    * checkpoint) are wiped and `fp` is recorded, so a regenerated corpus
    * rebuilds from scratch instead of unioning its part files with the
    * old corpus' in the inbox.
    */
  private[streaming] def guardSource(base: String, fp: String,
                                     dirs: String*): Unit =
    if (!readText(base, "_source_fp").contains(fp)) {
      dirs.foreach(p =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
      writeMarker(base, "_source_fp", fp)
    }

  /** A stream-maintained store over `dir`'s events table, staged and
    * maintained under the session's store root — the driver-entry form
    * (round 15; VERDICT r14 #3): deterministic (the store's rows are a
    * pure function of the corpus — the fold's order key makes every
    * partial reproducible), fingerprint-guarded (a regenerated corpus
    * wipes inbox/checkpoint/store and rebuilds — the CurationStream
    * posture, mtime folded into the single-file fingerprint), and
    * idempotent within a round (a matching fingerprint with a
    * published horizon returns the existing store without starting a
    * stream).
    *
    * Crash-window safety: a kill between the two runOnce passes leaves
    * a STALER store, never a wrong one — runOnce publishes the
    * watermark its last executed batch USED (the one its timeouts
    * fired against), so every bucket ending at or before the marker is
    * already flushed after pass 1 (probed empirically: one pass over
    * the sf0.01 corpus flushes exactly the raw sample count within its
    * published horizon); the drain pass only ADVANCES the horizon.
    */
  def demoStore(s: SparkSession, dir: String): String = {
    val root = graft.sources.ChunkStore.storeRoot(s)
    val tag = graft.sources.ChunkStore.pathTag(dir)
    buildStore(s, dir, s"$root/rollupstream_$tag")
  }

  private def buildStore(s: SparkSession, dir: String,
                         base: String): String = {
    val in = s"$base/in"
    val store = s"$base/store"
    val cp = s"$base/cp"
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    guardSource(base, graft.Artifact.fingerprint(src), in, store, cp)
    if (horizonSec(store).isEmpty) {
      // stage the corpus into the inbox (idempotent by name; a corpus
      // may be one parquet FILE or a spark-written DIRECTORY of parts)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def stageOne(p: java.nio.file.Path, name: String): Unit = {
        val dst = java.nio.file.Paths.get(s"$in/$name")
        if (!java.nio.file.Files.exists(dst))
          java.nio.file.Files.copy(p, dst)
      }
      if (java.nio.file.Files.isDirectory(src)) {
        val parts = java.nio.file.Files.list(src)
        try parts.filter(_.getFileName.toString.endsWith(".parquet"))
          .forEach(p => stageOne(p, p.getFileName.toString))
        finally parts.close()
      } else stageOne(src, "events.parquet")
      runOnce(s, in, store, cp, dir)
      runOnce(s, in, store, cp, dir) // drain pass: flush + advance
    }
    // idempotent catch-up: a store maintained before the fold chain
    // existed (or whose last pass crashed between markers) folds here;
    // an up-to-date store pays two marker reads
    foldChain(s, store)
    // the compactor runs maintenance-adjacent (round 17; VERDICT r16
    // #1): batch part dirs consolidate behind the `_compact` marker and
    // the fold levels merge log-structured — every serving hash is
    // unchanged by construction (same rows, fewer dirs)
    RollupCompactor.compact(s, store)
    store
  }

  /** [[demoStore]] with RETENTION applied (round 17): after the build,
    * raw 300 s buckets older than `retainRawFor` behind the 1 h fold
    * horizon are dropped from the raw level — fold-aligned queries keep
    * serving them from the chain bands; anything needing dropped raw
    * buckets falls back to the raw events scan via the floor gates.
    * Separate store root so the unretained [[demoStore]] twin entries
    * are untouched.
    */
  def demoStoreRetained(s: SparkSession, dir: String,
                        retainRawFor: Long): String = {
    val root = graft.sources.ChunkStore.storeRoot(s)
    val tag = graft.sources.ChunkStore.pathTag(dir)
    val base = s"$root/rollupstreamret_$tag"
    val store = buildStore(s, dir, base)
    RollupCompactor.compact(s, store, Some(retainRawFor))
    store
  }

  /** The served store: all finalized rollup rows in the rollup's
    * serving schema (plain read — append mode means no upsert
    * resolution; `batch` partition column and n_edge dropped), through
    * the ONE shared reader (DownsampleStore.readServing) the rule and
    * the stepped front-end also use, so the projections cannot drift.
    */
  def table(s: SparkSession, storeDir: String): DataFrame =
    graft.sources.DownsampleStore.readServingPaths(s,
      servingPaths(storeDir).getOrElse(
        sys.error(s"$storeDir has no maintained parts to serve")))
}
