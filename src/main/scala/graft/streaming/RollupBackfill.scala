package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.DownsampleStore
import RollupMaintainStream.{readMarker, writeMarker, horizonSec}

/** OUT-OF-ORDER BACKFILL into the stream-maintained rollup store
  * (round 17; VERDICT r16 #2 — Prometheus's OOO-ingest role): the live
  * maintenance loop never re-opens a closed bucket — a sample arriving
  * later than the watermark is silently outside the maintained rollup
  * (the batch path would see it). This batch job repairs the store:
  *
  *  1. Affected (bucket, series) keys come from the late rows; every
  *     affected bucket must already be CLOSED (bucket end <= the store
  *     horizon) — later rows are not late, they belong to the stream
  *     (refused loudly, never silently dropped).
  *  2. Affected buckets are RECOMPUTED from the repaired source of
  *     truth (`events`, which must already contain the late rows) with
  *     exactly the store build's arithmetic (DownsampleStore.rollupOf)
  *     — not merged into stored partials: within-bucket sample order
  *     decides first/last and the inc_dec counter pairs, and a late
  *     sample can interleave anywhere, so only a from-source recompute
  *     is exact.
  *  3. The raw level swaps via the compaction discipline: a full
  *     compaction first (one write-once dir), then a generation-bumped
  *     rewrite `upto_<m>_f<F>_g<g+1>` = (old rows whose key is
  *     unaffected) ∪ (recomputed rows), behind the same atomic
  *     `_compact` marker — every crash window serves a consistent view.
  *  4. Touched FOLD increments refold: 1 h rows for touched hours
  *     recompute from the source (all buckets of the hour, folded by
  *     the same chain law), 1 d rows for touched days from the
  *     repaired 1 h chain; each intersecting increment dir is
  *     rewritten under a bumped `_g<n>` generation (the
  *     marker-consistent greedy chain serves the newest generation, so
  *     the swap is atomic per dir and untouched increments are never
  *     rewritten).
  *  5. `_edge_count` recomputes over the repaired view — late samples
  *     sitting on bucket boundaries flip the store honest-dirty, which
  *     vetoes stepped serving rather than under-counting it.
  *
  * 100 TB shape: work is O(affected buckets + touched fold ranges),
  * not store size — the key set prunes the source scan (partition/
  * row-group pruning on ts), the raw swap rewrites one retention-
  * bounded dir, and the per-level refolds touch only increments whose
  * range intersects a touched hour/day. The touched-hour set is
  * collected to the driver: bounded by the OOO window (hours per
  * repair run), the same bound Prometheus places on OOO ingest.
  */
object RollupBackfill {

  /** Repair `storeDir` with `late` rows (events schema). `events` is
    * the repaired source of truth and MUST already contain the late
    * rows — affected buckets are recomputed from it wholesale.
    */
  def backfill(s: SparkSession, storeDir: String, events: DataFrame,
               late: DataFrame): Unit = {
    val R = DownsampleStore.ResolutionSec
    val h = horizonSec(storeDir).getOrElse(
      sys.error(s"$storeDir has no horizon; nothing to backfill into"))
    val withBucket = (df: DataFrame) => df.withColumn("bucket",
      expr(s"(unix_micros(ts) div ${R * 1000000L}) * $R"))
    val affected = withBucket(late)
      .select("bucket", "user_id", "event_type").distinct()
    require(withBucket(late).filter(col("bucket") + R > h).isEmpty,
      s"late rows past the horizon $h must arrive through the stream")

    // recomputed raw rows for the affected keys, from source — plus
    // the n_edge the stream fold carries (late rows can seat on
    // boundaries; the marker recompute below must see them)
    val touchedEv = withBucket(events)
      .join(affected, Seq("bucket", "user_id", "event_type"), "left_semi")
    val edges = touchedEv
      .groupBy("bucket", "user_id", "event_type")
      .agg(sum(when(expr(s"unix_micros(ts) % ${R * 1000000L} = 0"), 1L)
        .otherwise(0L)).as("n_edge"))
    val recomputed = DownsampleStore.rollupOf(touchedEv.drop("bucket"))
      .join(edges, Seq("bucket", "user_id", "event_type"))

    // raw-level swap: everything into one dir, then a generation bump
    RollupCompactor.compact(s, storeDir)
    val st = RollupCompactor.state(storeDir).getOrElse(
      sys.error(s"$storeDir has no compacted view to repair"))
    val oldDir = RollupCompactor.compactDir(storeDir, st)
    val old = s.read.parquet(oldDir.getPath)
    val repaired = old
      .join(affected, Seq("bucket", "user_id", "event_type"), "left_anti")
      .unionByName(recomputed.select(old.schema.fields.map(f =>
        col(f.name).cast(f.dataType)).toSeq: _*))
    val next = st.copy(gen = st.gen + 1)
    repaired.repartitionByRange(
        math.max(1, s.sparkContext.defaultParallelism / 8), col("bucket"))
      .sortWithinPartitions("bucket", "event_type", "user_id")
      .write.mode("overwrite")
      .parquet(RollupCompactor.compactDir(storeDir, next).getPath)
    writeMarker(storeDir, "_compact", s"${next.upTo} ${next.floor} ${next.gen}")
    org.apache.commons.io.FileUtils.deleteQuietly(oldDir)

    // honest edge marker over the repaired view
    RollupMaintainStream.servingPaths(storeDir).foreach { paths =>
      val e = s.read.parquet(paths: _*)
        .agg(coalesce(sum("n_edge"), lit(0L))).collect()(0).getLong(0)
      writeMarker(storeDir, "_edge_count", e)
    }

    // touched fold ranges: hours from the affected buckets, days from
    // the touched hours — driver-side sets bounded by the OOO window
    val touchedHours = affected
      .select(expr("(bucket div 3600) * 3600").as("p")).distinct()
      .collect().map(_.getLong(0)).toSet
    refoldLevel(s, storeDir, 3600L, touchedHours, p =>
      DownsampleStore.rollupOf(
        withBucket(events)
          .filter(col("bucket") >= p && col("bucket") < p + 3600L)
          .drop("bucket")))
    val touchedDays = touchedHours.map(p => Math.floorDiv(p, 86400L) * 86400L)
    refoldLevel(s, storeDir, 86400L, touchedDays, p =>
      RollupMaintainStream.foldedLevel(storeDir, 3600L).map { case (incs, _) =>
        DownsampleStore.readServingPaths(s, incs, counters = true)
          .filter(col("bucket") >= p && col("bucket") < p + 86400L)
      }.getOrElse(s.emptyDataFrame))
  }

  /** Rewrite every increment dir of the `r`-second fold level whose
    * range contains a touched parent bucket: (old rows whose parent is
    * untouched) ∪ (parents refolded from `childOf(parent)` by the one
    * chain law), under a bumped generation — untouched increments are
    * never rewritten, and the greedy chain swaps to the new dir the
    * moment it lands.
    *
    * Touched parents in a CHAIN GAP get their own fresh increment
    * (review r17): a data-less increment range the chain never serves
    * leaves a late batch with no dir to rewrite — without the
    * gap-filler the marker would keep claiming complete coverage while
    * the fold level silently misses the repaired rows. Live runOnce
    * sequences cannot actually produce the state (the increment that
    * advances a horizon always contains the sample that set the
    * previous watermark), but repair/restore tooling can — the filler
    * makes the refold total over the marker's claimed range. Increment
    * boundaries are r-aligned, so a [p, p+r) filler can never overlap
    * a chain member and the greedy chain adopts it directly.
    */
  private[graft] def refoldLevel(s: SparkSession, storeDir: String, r: Long,
                                 touched: Set[Long],
                                 childOf: Long => DataFrame): Unit = {
    if (touched.isEmpty) return
    val dir = new File(storeDir, s"fold_${r}s")
    val levelH = readMarker(dir.getPath, "_horizon").getOrElse(return)
    val folded = touched.filter(_ < levelH)
    if (folded.isEmpty) return
    val allGens = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("inc_"))
      .flatMap(RollupMaintainStream.parseInc)
    val chain = RollupMaintainStream.foldedLevel(storeDir, r)
      .map(_._1.flatMap(p => RollupMaintainStream.parseInc(new File(p))))
      .getOrElse(Seq.empty)
    val refolded = folded.map(p =>
      p -> graft.sources.DownsampleStore.rollupFrom(childOf(p), r)
        .filter(col("bucket") === p)).toSeq
    def write(df: DataFrame, out: File): Unit =
      df.repartitionByRange(
          math.max(1, s.sparkContext.defaultParallelism / 8), col("bucket"))
        .sortWithinPartitions("bucket", "event_type", "user_id")
        .write.mode("overwrite").parquet(out.getPath)
    chain.foreach { d =>
      val inRange = folded.filter(p => p >= d.a && p < d.b)
      if (inRange.nonEmpty) {
        val old = s.read.parquet(d.path)
        val keep = old.filter(!col("bucket").isInCollection(inRange.toSeq))
        val repl = refolded.collect { case (p, df) if inRange(p) => df }
          .map(_.select(old.schema.fields.map(f =>
            col(f.name).cast(f.dataType)).toSeq: _*))
          .foldLeft(keep)(_ unionByName _)
        val gen = allGens.filter(x => x.a == d.a && x.b == d.b)
          .map(_.g).max + 1L
        write(repl, new File(dir, s"inc_${d.a}_${d.b}_g$gen"))
        org.apache.commons.io.FileUtils.deleteQuietly(new File(d.path))
      }
    }
    val uncovered = folded.filter(p => !chain.exists(d => p >= d.a && p < d.b))
    uncovered.foreach { p =>
      val gen = allGens.filter(x => x.a == p && x.b == p + r)
        .map(_.g).maxOption
      val out = new File(dir,
        gen.fold(s"inc_${p}_${p + r}")(g => s"inc_${p}_${p + r}_g${g + 1}"))
      write(refolded.collectFirst { case (q, df) if q == p => df }.get, out)
    }
  }

  /** Driver-entry demo (deterministic, fingerprint-guarded like
    * demoStore): the corpus is split so one mid-month slice arrives
    * LATE — the store is stream-built WITHOUT it (those buckets close
    * incomplete), then this job repairs it. A month-wide stepped query
    * over the repaired store is hash-shared with the raw twin over the
    * full corpus — the proof the repair is exact.
    */
  def demoStore(s: SparkSession, dir: String): String = {
    val root = graft.sources.ChunkStore.storeRoot(s)
    val tag = graft.sources.ChunkStore.pathTag(dir)
    val base = s"$root/rollupstreambf_$tag"
    val in = s"$base/in"
    val store = s"$base/store"
    val cp = s"$base/cp"
    RollupMaintainStream.guardSource(base,
      graft.Artifact.fingerprint(java.nio.file.Paths.get(s"$dir/events.parquet")),
      in, store, cp)
    val lateCond = col("ts") >= lit("2024-01-08") &&
      col("ts") < lit("2024-01-09") && pmod(col("user_id"), lit(5)) === 2
    if (readMarker(store, "_backfilled").isEmpty) {
      val ev = graft.Tables.events(s, dir)
      // stage the ON-TIME corpus (everything but the late slice)
      val stage = s"$base/stage_ontime"
      ev.filter(!lateCond).write.mode("overwrite").parquet(stage)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      Option(new File(stage).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).foreach { p =>
          val dst = java.nio.file.Paths.get(s"$in/${p.getName}")
          if (!java.nio.file.Files.exists(dst))
            java.nio.file.Files.copy(p.toPath, dst)
        }
      RollupMaintainStream.runOnce(s, in, store, cp, dir)
      RollupMaintainStream.runOnce(s, in, store, cp, dir) // drain
      backfill(s, store, ev, ev.filter(lateCond))
      writeMarker(store, "_backfilled", 1L)
    }
    store
  }
}
