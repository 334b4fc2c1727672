package graft.plans

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Promql
import graft.sources.DownsampleStore
import graft.streaming.{RollupCompactor, RollupMaintainStream => RMS}

/** Which rollup store, at which levels and under which gates, answers a
  * query grid — decided once for the three serving consumers: the
  * tumbling Catalyst rule ([[RollupRewrite]]), the stepped PromQL
  * front-end ([[SteppedRollup]]) and the rule-group pass
  * (operators/RuleGroup.scala). This is Thanos's resolution pick; a
  * stream-maintained store adds Structured Streaming's completeness
  * bound, its `_watermark` horizon.
  *
  * With [[RollupRewrite.StreamStoreConf]] set, the named stream store
  * serves when it is bound to the query's dataset (`_source_dir`), its
  * endpoint picks use the current order key (`_key_rev`), it has a
  * horizon and data-bearing parts, and, for counter verbs, its parts
  * carry `inc_dec` (`_schema_rev`). Otherwise the batch MV over the
  * query's events dir serves (freshness = existence, graft.Artifact's
  * contract) at the coarsest committed level the grid aligns to.
  *
  * What the callers keep: on which axis band bounds apply (bucket for
  * the tumbling rule, step shifted by the selector offset for the other
  * two) and what to do with the horizon.
  */
object RollupServing {
  private val R = DownsampleStore.ResolutionSec
  private val Hour = DownsampleStore.HourResolutionSec
  private val Day = DownsampleStore.DayResolutionSec

  /** One serving band: one store level's part dirs, its bucket
    * resolution, and the fold horizons bounding it (None = unbounded).
    * A fold level with horizon h holds exactly the buckets below h, so
    * a bucket b belongs to the band iff lo <= b < hi, and a window
    * ending at t (on the original axis) iff lo < t <= hi.
    */
  case class Band(paths: Seq[String], res: Long, lo: Option[Long],
                  hi: Option[Long])

  /** The serving store's bands, coarsest first and the raw level last,
    * and the stream store's completeness horizon (None for a batch
    * store).
    */
  case class Serving(bands: Seq[Band], horizon: Option[Long]) {
    def raw: Band = bands.last
  }

  /** Resolve the store answering a grid whose every window aligns to a
    * resolution r iff `alignedTo(r)`, or None when no store may serve
    * (the caller evaluates raw).
    *
    * @param openLeft the windows are (t − W, t]: a bucket [b, b+res)
    *   decomposes into them exactly iff no sample sits on a bucket's
    *   first microsecond, so every store level must carry
    *   `_edge_count` = 0 (absent marker = refuse). Tumbling windows are
    *   closed-left like the buckets and skip the gate.
    * @param counters the verbs need the `inc_dec` counter partial.
    * @param lowestRawBucket the lowest bucket the raw band would read
    *   under the resolved bands (None: it serves no window). Raw
    *   buckets below a stream store's `_compact` retention floor may
    *   have been dropped, so a store whose raw band would read below
    *   its floor refuses: raw evaluation, never an under-count. Fold
    *   levels are never retention-dropped.
    */
  def resolve(s: SparkSession, dir: String, alignedTo: Long => Boolean,
              openLeft: Boolean, counters: Boolean)(
      lowestRawBucket: Serving => Option[Long]): Option[Serving] = {
    val storeDir = s.conf.get(RollupRewrite.StreamStoreConf, "")
    if (storeDir.isEmpty)
      batchBand(s, dir, alignedTo, openLeft).map(b => Serving(Seq(b), None))
    else {
      val floor = RollupCompactor.retainFloor(storeDir)
      streamServing(storeDir, dir, alignedTo, openLeft, counters)
        .filter(sv => floor == RollupCompactor.NoFloor ||
          lowestRawBucket(sv).forall(_ >= floor))
    }
  }

  /** True iff the store level at `storeDir` records no sample on a
    * bucket boundary; a missing `_edge_count` marker refuses.
    */
  def boundaryClean(storeDir: String): Boolean =
    RMS.edgeCount(storeDir).contains(0L)

  /** Coarsest-first batch level: 1 d, then 1 h, then 300 s. A finer
    * level is never refused because a coarser one is absent or dirty.
    */
  private def batchBand(s: SparkSession, dir: String,
                        alignedTo: Long => Boolean,
                        openLeft: Boolean): Option[Band] = {
    def level(r: Long, path: => String): Option[Band] =
      if (!alignedTo(r)) None
      else Some(path).filter(p => new File(p).isDirectory &&
        (!openLeft || boundaryClean(p))).map(p => Band(Seq(p), r, None, None))
    level(Day, DownsampleStore.storePath1d(s, dir))
      .orElse(level(Hour, DownsampleStore.storePath1h(s, dir)))
      .orElse(level(R, DownsampleStore.storePath(s, dir)))
  }

  /** The stream store's gates, then its bands: closed days from the
    * folded 1 d level, closed hours from the folded 1 h level, the
    * 300 s parts above them. A fold level joins only when the whole grid
    * aligns to its resolution, so each window is served by exactly one
    * level.
    */
  private def streamServing(storeDir: String, dir: String,
                            alignedTo: Long => Boolean, openLeft: Boolean,
                            counters: Boolean): Option[Serving] =
    for {
      src <- RMS.sourceDir(storeDir)
      if new File(src).getCanonicalPath == new File(dir).getCanonicalPath
      if RMS.keyRevOk(storeDir)
      h <- RMS.horizonSec(storeDir)
      if !openLeft || boundaryClean(storeDir)
      if !counters || RMS.counterRevOk(storeDir)
      // markers can exist with no parts (a zero-data pass): raw, never
      // a plan-time throw
      paths <- RMS.servingPaths(storeDir)
    } yield {
      def fold(r: Long) = if (alignedTo(r)) RMS.foldedLevel(storeDir, r) else None
      val day = fold(Day)
      val hour = fold(Hour)
      val hDay = day.map(_._2)
      val hHour = hour.map(_._2)
      Serving(Seq(
        day.map { case (incs, hd) => Band(incs, Day, None, Some(hd)) },
        hour.map { case (incs, hh) => Band(incs, Hour, hDay, Some(hh)) },
        Some(Band(paths, R, hHour.orElse(hDay), None))).flatten, Some(h))
    }

  /** The first grid step after `x`. */
  def stepAfter(spec: Promql.EvalSpec, x: Long): Long =
    spec.startSec + (Math.floorDiv(x - spec.startSec, spec.stepSec) + 1L) *
      spec.stepSec

  /** The lowest bucket a stepped grid's raw band reads: its first step
    * tMin (the first grid step above the raw band's lower fold horizon,
    * shifted by `offsetSec`) reaches buckets down to tMin − W − offset.
    * None when no step up to `lastStep` falls to the raw band.
    */
  def rawLowest(sv: Serving, spec: Promql.EvalSpec, windowSec: Long,
                offsetSec: Long, lastStep: Long): Option[Long] = {
    val tMin = sv.raw.lo.fold(spec.startSec)(l =>
      math.max(spec.startSec, stepAfter(spec, l + offsetSec)))
    if (tMin <= lastStep) Some(tMin - windowSec - offsetSec) else None
  }

  /** Explode each store row to the grid steps whose window (t − W, t]
    * covers its whole bucket: t − W <= b <= t − res, i.e. with
    * t = A + kS,
    *   kMin = ceil((b + res − A) / S), kMax = floor((b + W − A) / S),
    * clamped to the grid. The bucket-range prune reaches the store's
    * parquet row groups (the store is sorted on bucket). Deltas stay
    * far below 2^53, so the double floor/ceil is exact (the raw
    * evaluator's argument). `lo`/`hi` are the band's bounds on the
    * step axis: lo < step <= hi.
    */
  def coveringSteps(rows: DataFrame, spec: Promql.EvalSpec, res: Long,
                    windowSec: Long, lo: Option[Long],
                    hi: Option[Long]): DataFrame = {
    val delta = (col("bucket") - lit(spec.startSec)).cast("double")
    val kMin = greatest(lit(0L),
      ceil((delta + lit(res.toDouble)) / lit(spec.stepSec.toDouble)).cast("long"))
    val kMax = least(lit(spec.maxK),
      floor((delta + lit(windowSec.toDouble)) / lit(spec.stepSec.toDouble))
        .cast("long"))
    val c = rows
      .filter(col("bucket") >= lit(spec.startSec - windowSec) &&
        col("bucket") <= lit(spec.endSec - res))
      .withColumn("__kmin", kMin).withColumn("__kmax", kMax)
      .filter(col("__kmin") <= col("__kmax"))
      .withColumn("__k", explode(sequence(col("__kmin"), col("__kmax"))))
      .withColumn("step", col("__k") * spec.stepSec + spec.startSec)
    val c1 = hi.fold(c)(h => c.filter(col("step") <= lit(h)))
    lo.fold(c1)(l => c1.filter(col("step") > lit(l)))
  }
}
