package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicReference
import graft.Memo

/** RULE GROUPS — N rules, ONE scan (round 17; VERDICT r16 #3).
  * Prometheus evaluates a rule group per interval: every alerting and
  * recording rule in the group runs at the same evaluation timestamps
  * over the same TSDB (rules/group.go's Eval loop). graft evaluated
  * each rule as its own job — N rules over one selector family paid N
  * raw scans. This compiler fans a group into ONE shared pass:
  *
  *  - one events scan, range-pruned to `[start − Wmax, end]` and
  *    filtered to the union of the group's metric sets (both reach the
  *    parquet scan as pushed filters);
  *  - one covering-step explode at the group's WIDEST window — a
  *    sample's (step, delta) pair decides membership in every rule's
  *    narrower window by a cheap `delta < W_r` predicate;
  *  - one aggregation at the pass's series grain — (step × user_id ×
  *    event_type), extended by any payload labels the pass's rules
  *    group by — computing every rule's verb partial as a CONDITIONAL
  *    measure column (the q_range_stats_by multi-measure posture);
  *    rules whose by() names a payload label are compiled in their own
  *    grain's pass (grain-sensitive verbs — avg/stddev/rate — change
  *    VALUE, not just grouping, under a different grain);
  *  - per rule: re-aggregate the partials to the rule's by() grain
  *    (counts/sums merge associatively, order stats compose, avg =
  *    merged sum / merged count — the evaluator's exactSum decimal
  *    arithmetic all the way, so each rule's output is BIT-EQUAL to
  *    its standalone evaluation), then the comparison filter + the
  *    `for:`/`keep_firing_for:` state machine (Alerts.alertStates) for
  *    alerting rules.
  *
  * The shared frame is MATERIALIZED (eager localCheckpoint) before
  * fan-out (grid × series rows — rollup-sized, never sample-sized):
  * Spark does not common-subexpress across union branches, so without
  * the materialization each rule's branch would re-run the scan —
  * exactly the N-pass shape this compiler exists to kill. The spec
  * asserts the fan-out plan contains NO events scan (only block reads
  * of the one materialized pass).
  *
  * 100 TB shape: the one scan does all the reading; the explode is
  * bounded by Wmax/step per sample; the shared aggregate shuffles once
  * on (step, series); per-rule re-aggregations shuffle rollup-sized
  * frames. A 30-rule group costs one scan + 30 small re-groups instead
  * of 30 scans.
  */
object RuleGroup {

  /** One group rule, the ruler's workhorse shape:
    * `outerAgg by (labels) (verb(metric_set[W]))  [cmp thr]`, with the
    * outer aggregation omitted when `by` equals the full series grain.
    *
    * @param cmp alerting condition (op, threshold) — None = recording
    *   rule (the value grid itself is the output).
    * @param outerAgg the vector aggregation over the by() grain:
    *   sum (default) | min | max | avg — each with the evaluator's
    *   arithmetic (exactSum decimals; avg = exactSum / count).
    * @param q the quantile for verb quantile_over_time (the house
    *   DISCRETE quantile — stored value at ceil(q·n), the
    *   quantile_over_time contract).
    */
  case class Rule(name: String, verb: String, metrics: Seq[String],
                  windowSec: Long, by: Seq[String],
                  cmp: Option[(String, Double)] = None,
                  forSec: Long = 0L, keepSec: Long = 0L,
                  outerAgg: String = "sum", q: Double = 0.5) {
    require(Set("count_over_time", "sum_over_time", "avg_over_time",
      "min_over_time", "max_over_time", "rate", "increase",
      "stddev_over_time", "stdvar_over_time",
      "quantile_over_time").contains(verb),
      s"verb $verb")
    // by() may reach past the physical grain into PAYLOAD labels
    // (round 17): a non-physical label refines the rule's series grain
    // exactly as referencing it refines a standalone query's
    // (Promql.seriesLabels), so rules are compiled in grain-partitioned
    // passes — see [[evaluate]]
    require(by.nonEmpty && by.forall(l =>
      Set("user_id", "event_type")(l) ||
        !Set("step", "value", "ts", "ts_ns", "us", "event_id", "istep",
          "props", "rule", "alertstate")(l)),
      s"by() labels must be physical or payload labels, got $by")
    require(Set("sum", "min", "max", "avg", "count", "group",
      "stddev", "stdvar").contains(outerAgg),
      s"outer aggregation $outerAgg")
    require(windowSec > 0 && metrics.nonEmpty)
  }

  private val Grain = Seq("user_id", "event_type")

  /** Evaluate the group on `spec`'s grid — one shared pass PER SERIES
    * GRAIN, one output frame per rule (alert rules as (step, labels...,
    * alertstate, value), recording rules as (step, labels..., value)).
    *
    * Rules whose by() stays within the physical grain share one pass at
    * (user_id, event_type); a rule naming a payload label refines its
    * series grain (per-series verbs like avg/stddev/rate are
    * grain-SENSITIVE — evaluating them at a coarser or finer grain than
    * the standalone query would change values, not just grouping), so
    * rules are partitioned by their required grain and each distinct
    * grain gets its own pass. A group mixing physical and one payload
    * grain still costs two scans, not N.
    */
  def evaluate(s: SparkSession, dir: String, spec: Promql.EvalSpec,
               rules: Seq[Rule]): Map[String, DataFrame] = {
    require(rules.map(_.name).distinct.size == rules.size, "duplicate rule")
    val byGrain = rules.zipWithIndex.groupBy { case (r, _) =>
      Grain ++ r.by.filterNot(Grain.contains).sorted }
    val passes = byGrain.toSeq.flatMap { case (grain, rs) =>
      // ROLLUP-SERVED pass (round 17, the Thanos-ruler posture at
      // group scale): with the rewrite opted in, the physical-grain
      // rules whose verbs the downsample partials answer losslessly
      // evaluate from the rollup STORE — store-row-sized reads instead
      // of the raw scan; the rest of the pass (distribution verbs need
      // per-sample detail) keeps the raw scan. A 30-rule group over a
      // year of data then reads rollup bytes, not raw.
      if (grain != Grain) Seq(evaluatePass(s, dir, spec, rs, grain))
      else {
        val (able, rest) = rs.partition { case (r, _) => RollupVerbs(r.verb) }
        rollupPass(s, dir, spec, able) match {
          case Some(p) if rest.nonEmpty =>
            Seq(p, evaluatePass(s, dir, spec, rest, grain))
          case Some(p) => Seq(p)
          case None    => Seq(evaluatePass(s, dir, spec, rs, grain))
        }
      }
    }
    lastScanPaths(s).set(
      passes.flatMap { case (outs, _, paths) =>
        outs.keys.map(_ -> paths) }.toMap)
    passes.flatMap(_._1).toMap
  }

  /** Spec introspection (optimization r18 — replaces the persist-era
    * cached-plan digging): per session, the file-scan root paths each
    * rule's SHARED PASS actually read, recorded from the EXECUTED plan
    * of the pass's eager-checkpoint materialization. Replaced on every
    * evaluate() — bounded like the old one-live-frame cache was.
    */
  private[graft] def lastScanPaths(s: SparkSession): AtomicReference[Map[String, Set[String]]] =
    Memo(s, "RuleGroup.lastScanPaths")(new AtomicReference(Map.empty[String, Set[String]]))

  private def scanPathsOf(
      qe: org.apache.spark.sql.execution.QueryExecution): Set[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    def leavesOf(p: SparkPlan): Seq[SparkPlan] =
      p.collectLeaves().flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leavesOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          leavesOf(q.plan)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          leavesOf(m.relation.cachedPlan)
        case l => Seq(l)
      }
    leavesOf(qe.executedPlan).flatMap {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
      case _ => Seq.empty
    }.toSet
  }

  /** One grain's shared pass: the scan + explode + multi-measure
    * aggregate + per-rule fan-out, at `grain` (the physical columns
    * plus any payload labels, materialized with the evaluator's own
    * projections so the grain is column-identical to standalone).
    * Measure columns are named by each rule's ORIGINAL index, so
    * passes never collide.
    */
  private def evaluatePass(s: SparkSession, dir: String,
                           spec: Promql.EvalSpec,
                           rulesIdx: Seq[(Rule, Int)], grain: Seq[String])
      : (Map[String, DataFrame], DataFrame, Set[String]) = {
    val rules = rulesIdx.map(_._1)
    val wMax = rules.map(_.windowSec).max
    // range-pruned, metric-pruned single scan (both pushed); payload
    // labels in the grain materialize with the evaluator's projections
    val ev = grain.filterNot(Grain.contains).foldLeft(
        graft.Tables.eventsRanged(s, dir,
            Some(((spec.startSec - wMax) * 1000000000L,
              spec.endSec * 1000000000L)))
          .filter(col("event_type")
            .isin(rules.flatMap(_.metrics).distinct: _*))
          .withColumn("__us", unix_micros(col("ts")))
      )((d, l) => d.withColumn(l, Promql.labelProjection(l)))
    // covering steps for the WIDEST window
    val exploded0 = Promql.coveringSteps(ev, spec, wMax, col("__us"))
      .withColumn("__delta", col("step") * lit(1000000L) - col("__us"))
    // counter verbs need the previous in-window sample: ONE lag pass
    // over the (step, series) partition covers every counter rule —
    // adjacency within the widest window implies adjacency within any
    // narrower one once both samples qualify, and a predecessor
    // OUTSIDE the rule's window is exactly "no predecessor" (the
    // rule's first in-window sample, growth 0 — the evaluator's
    // stored-value baseline). The window partition equals the groupBy
    // keys, so the sort rides the same exchange.
    val hasCounter = rules.exists(r => Set("rate", "increase")(r.verb))
    val exploded =
      if (!hasCounter) exploded0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy((col("step") +: grain.map(col)): _*)
          .orderBy(col("__us"), col("event_id"))
        exploded0
          .withColumn("__prev_v", lag("value", 1).over(w))
          .withColumn("__prev_d", lag("__delta", 1).over(w))
      }
    // ONE aggregation, every rule's verb partial as a conditional
    // measure at the pass's series grain
    val measures: Seq[Column] = rulesIdx.flatMap { case (r, i) =>
      val cond = col("event_type").isin(r.metrics: _*) &&
        col("__delta") < lit(r.windowSec * 1000000L)
      val v = when(cond, col("value"))
      r.verb match {
        case "count_over_time" => Seq(sum(when(cond, 1L)).as(s"__c$i"))
        case "sum_over_time" =>
          Seq(sum(v.cast("decimal(30,6)")).as(s"__s$i"))
        case "avg_over_time" =>
          Seq(sum(v.cast("decimal(30,6)")).as(s"__s$i"),
            sum(when(cond, 1L)).as(s"__c$i"))
        case "min_over_time" => Seq(min(v).as(s"__n$i"))
        case "max_over_time" => Seq(max(v).as(s"__x$i"))
        case "stddev_over_time" | "stdvar_over_time" =>
          // the evaluator's exact sums (exactSum / exactSumSq) as
          // conditional measures — DECIMAL(18,6)² at scale 12 so x²
          // below ~1e-3 does not truncate (the ExactNum derivation)
          val q18 = v.cast("decimal(18,6)")
          Seq(sum((q18 * q18).cast("decimal(38,12)")).as(s"__qq$i"),
            sum(v.cast("decimal(30,6)")).as(s"__s$i"),
            sum(when(cond, 1L)).as(s"__c$i"))
        case "quantile_over_time" =>
          // the house discrete quantile needs the window's sorted
          // values — bounded by samples per (step, series) bucket,
          // the batch evaluator's own value-histogram state bound
          Seq(sort_array(collect_list(v)).as(s"__l$i"))
        case "rate" | "increase" =>
          // the evaluator's reset-corrected growth, quantized per pair
          // (exactSum): predecessor absent-or-outside ⇒ baseline 0
          val growth = when(
            col("__prev_v").isNull ||
              col("__prev_d") >= lit(r.windowSec * 1000000L), lit(0.0))
            .when(col("value") >= col("__prev_v"),
              col("value") - col("__prev_v"))
            .otherwise(col("value"))
          Seq(sum(when(cond, growth).cast("decimal(30,6)")).as(s"__i$i"))
      }
    }
    val pre = exploded
      .groupBy((col("step") +: grain.map(col)): _*)
      .agg(measures.head, measures.tail: _*)
    // the materialization is load-bearing (see the object doc): one
    // scan materializes the pass; every rule branch reads the blocks.
    // localCheckpoint, NOT persist (optimization r18, guide §2.2/§5):
    // a cached plan is compiled without AQE output-partitioning
    // changes (canChangeCachedPlanOutputPartitioning=false), so the
    // persisted pass ran — and was re-read — at the session's full
    // shuffle partition count on a grid-sized frame; the checkpoint
    // job runs through AQE (coalesced to the grid's real size), the
    // frame never enters the CacheManager registry, and its blocks
    // are GC-cleaned without the session-cache bookkeeping the
    // persist form needed.
    val shared = pre.localCheckpoint()
    (fanOut(s, spec, shared, rulesIdx, grain), shared,
      scanPathsOf(pre.queryExecution))
  }

  /** Per-rule fan-out over a materialized shared pass: derive each
    * rule's per-series value from its measure columns (`__c/__s/__n/
    * __x/__qq/__l/__i` + rule index), re-aggregate to the rule's by()
    * grain with the evaluator's arithmetic, then the comparison + the
    * `for:`/`keep_firing_for:` machine for alerting rules. Shared by
    * the raw-scan pass and the rollup-served pass — the measure-column
    * CONTRACT is the seam: any pass that produces bit-identical
    * measures produces bit-identical rule outputs.
    */
  private def fanOut(s: SparkSession, spec: Promql.EvalSpec,
                     shared: DataFrame, rulesIdx: Seq[(Rule, Int)],
                     grain: Seq[String]): Map[String, DataFrame] = {
    rulesIdx.map { case (r, i) =>
      // the rule's per-series value, with the evaluator's arithmetic
      val seriesValue: Column = r.verb match {
        case "count_over_time" => col(s"__c$i").cast("double")
        case "sum_over_time"   => col(s"__s$i").cast("double")
        case "avg_over_time"   =>
          col(s"__s$i").cast("double") / col(s"__c$i")
        case "min_over_time"   => col(s"__n$i")
        case "max_over_time"   => col(s"__x$i")
        case "stddev_over_time" | "stdvar_over_time" =>
          // the evaluator's variance formula, double arithmetic op
          // for op (negatives clamp to 0, null propagates)
          val n = col(s"__c$i")
          val sd = col(s"__s$i").cast("double")
          val variance = (col(s"__qq$i").cast("double") - sd * sd / n) / n
          val guarded = when(variance < 0.0, lit(0.0)).otherwise(variance)
          if (r.verb == "stddev_over_time") sqrt(guarded) else guarded
        case "quantile_over_time" =>
          val arr = col(s"__l$i")
          when(size(arr) > 0, element_at(arr,
            graft.functions.ExactNum
              .quantilePos(size(arr).cast("long"), r.q).cast("int")))
        case "increase"        => col(s"__i$i").cast("double")
        case "rate"            =>
          col(s"__i$i").cast("double") / lit(r.windowSec.toDouble)
      }
      val perSeries = shared
        .withColumn("__v", seriesValue).filter(col("__v").isNotNull)
      val valued =
        if (r.by.sorted == grain.sorted)
          perSeries.select((col("step") +: r.by.map(col) :+
            col("__v").as("value")): _*)
        else perSeries
          .groupBy((col("step") +: r.by.map(col)): _*)
          .agg((r.outerAgg match {
            case "sum" => graft.functions.ExactNum.exactSum(col("__v"))
            case "min" => min(col("__v"))
            case "max" => max(col("__v"))
            case "avg" =>
              graft.functions.ExactNum.exactSum(col("__v")) / count(lit(1))
            // the rest of PromQL's vector-agg family (round 17), each
            // with the evaluator's own arithmetic (Promql's agg case)
            case "count" => count(lit(1)).cast("double")
            case "group" => max(lit(1.0))
            case "stddev" | "stdvar" =>
              val variance =
                (graft.functions.ExactNum.exactSumSq(col("__v"))
                  - graft.functions.ExactNum.exactSum(col("__v"))
                    * graft.functions.ExactNum.exactSum(col("__v"))
                    / count(lit(1))) / count(lit(1))
              val guarded = when(variance < 0.0, lit(0.0)).otherwise(variance)
              if (r.outerAgg == "stddev") sqrt(guarded) else guarded
          }).as("value"))
      val out = r.cmp match {
        case None => valued
        case Some((op, thr)) =>
          val held = valued.filter(op match {
            case ">"  => col("value") > thr
            case ">=" => col("value") >= thr
            case "<"  => col("value") < thr
            case "<=" => col("value") <= thr
            case "==" => col("value") === thr
            case "!=" => col("value") =!= thr
            case o    => sys.error(s"bad comparison $o")
          })
          Alerts.alertStates(s, held, spec, r.forSec, r.keepSec)
      }
      r.name -> out
    }.toMap
  }

  /** Verbs the rollup store answers for a group rule LOSSLESSLY — the
    * SteppedRollup families: counts/sums merge associatively from the
    * store's decimal partials, order statistics compose, and the
    * counter verbs rebuild the exact growth chain from `inc_dec` +
    * the stored bucket endpoints. stddev/stdvar/quantile need
    * per-sample detail the partials lack; those rules keep the raw
    * pass.
    */
  private val RollupVerbs: Set[String] = Set(
    "count_over_time", "sum_over_time", "avg_over_time",
    "min_over_time", "max_over_time", "rate", "increase")

  /** The shared pass served from the downsample STORE instead of the
    * raw events scan (round 17) — or None when any soundness gate
    * fails and the caller falls back to the raw pass:
    *   - session rewrite flag off, or a verb outside [[RollupVerbs]];
    *   - a window / the grid start / the grid step not aligned to the
    *     store resolution (a misaligned window cuts within buckets);
    *   - no store resolves ([[graft.plans.RollupServing.resolve]]:
    *     open-left windows, coarsest aligned level — an hour-aligned
    *     group reads 12× fewer rollup rows);
    *   - a stream store whose horizon does not close the whole grid:
    *     an alert rule's for:/keep: machine walks every step in order,
    *     so a partially-closed grid has no sound "serve the closed
    *     prefix" — the fallback is the raw scan, never a truncated
    *     grid (Prometheus evaluates rules a completeness lag behind
    *     now; here that lag is the store's watermark horizon).
    *
    * Bit-exactness mirrors the stepped front-end's serving argument,
    * verb by verb, re-expressed as CONDITIONAL measures so every rule
    * shares one aggregation: a rule's window is an exact union of
    * store buckets (left-open windows + boundary-clean store), counts
    * are sums of `n_samples`, sums re-merge `sum_dec` decimal
    * partials, min/max fold the bucket order stats, avg divides the
    * same two operands, and rate/increase = Σ within-bucket `inc_dec`
    * + Σ boundary growths between consecutive covered buckets — the
    * lag pass runs ONCE over the widest window's covered buckets, and
    * a predecessor outside a narrower rule's window is excluded by
    * the boundary predicate exactly as the raw pass's
    * outside-the-window predecessor collapses to the stored-value
    * baseline. `__rn` (covered-bucket count) reproduces the raw
    * pass's null semantics: a series with no covered bucket emits no
    * row, while a single-sample bucket (NULL `inc_dec`) still yields
    * growth 0, not silence.
    *
    * 100 TB shape: the group's ONE scan now reads rollup rows —
    * series × buckets, ~W/res smaller than raw and pruned to the
    * grid's bucket range at the parquet scan — so a year-long
    * 30-rule group costs a rollup-sized scan + 30 small re-groups.
    */
  private def rollupPass(s: SparkSession, dir: String,
                         spec: Promql.EvalSpec,
                         rulesIdx: Seq[(Rule, Int)])
      : Option[(Map[String, DataFrame], DataFrame, Set[String])] = {
    import graft.sources.DownsampleStore
    if (rulesIdx.isEmpty ||
      !s.conf.get(graft.plans.RollupRewrite.Flag, "false").toBoolean)
      return None
    val rules = rulesIdx.map(_._1)
    def alignedTo(res: Long): Boolean =
      spec.startSec % res == 0 && spec.stepSec % res == 0 &&
        rules.forall(_.windowSec % res == 0)
    if (!alignedTo(DownsampleStore.ResolutionSec)) return None
    val wMax = rules.map(_.windowSec).max
    val hasCounter = rules.exists(r => Set("rate", "increase")(r.verb))
    val served = graft.plans.RollupServing.resolve(s, dir, alignedTo,
        openLeft = true, counters = hasCounter)(sv =>
        graft.plans.RollupServing.rawLowest(sv, spec, wMax, 0L, spec.endSec))
      .filter(_.horizon.forall(spec.endSec <= _))
    if (served.isEmpty) return None
    // one band's covered frame: metric union + the covering-step
    // explode over the widest window. Within one (step, series)
    // partition all covered buckets come from one band, so the counter
    // lag pass and every measure stay single-resolution.
    val exploded0 = served.get.bands.map { b =>
      val t = DownsampleStore
        .readServingPaths(s, b.paths, counters = hasCounter)
        .filter(col("event_type")
          .isin(rules.flatMap(_.metrics).distinct: _*))
      graft.plans.RollupServing.coveringSteps(t, spec, b.res, wMax, b.lo, b.hi)
        // bucket b in rule r's window (t − W_r, t] ⟺ step − b <= W_r
        // (>= res holds by construction)
        .withColumn("__bdelta", col("step") - col("bucket"))
    }.reduce(_ unionAll _)
    // counter rules: ONE lag pass over the (step, series) partition
    // gives each bucket its previous covered bucket's endpoint — the
    // boundary-growth pairs (the raw pass's one-lag-covers-all
    // argument, lifted from samples to buckets)
    val exploded =
      if (!hasCounter) exploded0
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy((col("step") +: Grain.map(col)): _*)
          .orderBy(col("bucket"))
        exploded0
          .withColumn("__prev_last", lag("last_value", 1).over(w))
          .withColumn("__prev_b", lag("bucket", 1).over(w))
      }
    val dec = org.apache.spark.sql.types.DecimalType(30, 6)
    val measures: Seq[Column] = rulesIdx.flatMap { case (r, i) =>
      val cond = col("event_type").isin(r.metrics: _*) &&
        col("__bdelta") <= lit(r.windowSec)
      r.verb match {
        case "count_over_time" =>
          Seq(sum(when(cond, col("n_samples"))).as(s"__c$i"))
        case "sum_over_time" =>
          Seq(sum(when(cond, col("sum_dec"))).as(s"__s$i"))
        case "avg_over_time" =>
          Seq(sum(when(cond, col("sum_dec"))).as(s"__s$i"),
            sum(when(cond, col("n_samples"))).as(s"__c$i"))
        case "min_over_time" =>
          Seq(min(when(cond, col("min_value"))).as(s"__n$i"))
        case "max_over_time" =>
          Seq(max(when(cond, col("max_value"))).as(s"__x$i"))
        case "rate" | "increase" =>
          // boundary pair (prev, cur) counts for rule r iff BOTH
          // buckets sit in r's window — prev is the immediately
          // preceding covered bucket, so prev-in-window makes it
          // exactly the raw chain's edge-straddling sample pair,
          // quantized per pair like every growth
          val boundary = when(col("__prev_b").isNotNull &&
              (col("step") - col("__prev_b")) <= lit(r.windowSec),
            when(col("first_value") >= col("__prev_last"),
              col("first_value") - col("__prev_last"))
              .otherwise(col("first_value"))).cast(dec)
          Seq(sum(when(cond, col("inc_dec"))).as(s"__ri$i"),
            sum(when(cond, boundary)).as(s"__rb$i"),
            sum(when(cond, 1L)).as(s"__rn$i"))
      }
    }
    val agged = exploded
      .groupBy((col("step") +: Grain.map(col)): _*)
      .agg(measures.head, measures.tail: _*)
    // counter measure contract: __i = within-bucket + boundary sums,
    // present iff any covered bucket (a lone single-sample bucket has
    // NULL inc_dec but must still yield growth 0)
    val zero = lit(java.math.BigDecimal.ZERO).cast(dec)
    val withCounters = rulesIdx.foldLeft(agged) { case (d, (r, i)) =>
      if (!Set("rate", "increase")(r.verb)) d
      else d.withColumn(s"__i$i", when(col(s"__rn$i").isNotNull,
        coalesce(col(s"__ri$i"), zero) + coalesce(col(s"__rb$i"), zero)))
    }
    val shared = withCounters.localCheckpoint() // see evaluatePass
    Some((fanOut(s, spec, shared, rulesIdx, Grain), shared,
      scanPathsOf(withCounters.queryExecution)))
  }

  /** The driver-entry shape: every rule's output in ONE tagged frame —
    * (rule, step, series, alertstate, value), `series` the rendered
    * by() identity, recording rows tagged alertstate `none`. Recording
    * rules are ALSO persisted through the recorded-rules store (the
    * ruler records, then serves), keyed by the group evaluation —
    * which means a RECORDING rule's by() may use generic payload
    * labels but not REGISTRY labels (toSamples rejects names whose
    * registered projection a payload write cannot honor); alert rules
    * carry no such restriction.
    */
  def evaluateUnion(s: SparkSession, dir: String, spec: Promql.EvalSpec,
                    rules: Seq[Rule]): DataFrame = {
    val outs = evaluate(s, dir, spec, rules)
    rules.map { r =>
      val df = outs(r.name)
      if (r.cmp.isEmpty)
        graft.sources.RecordedRules.recordGroupRule(s, dir, r.name,
          s"group:${r.verb}(${r.metrics.mkString("|")}[${r.windowSec}s]) " +
            s"by(${r.by.mkString(",")}) @${spec.startSec}/${spec.endSec}/" +
            s"${spec.stepSec}", df)
      val series = concat_ws(",", r.by.map(l => col(l).cast("string")): _*)
      df.select(
        lit(r.name).as("rule"),
        col("step"),
        series.as("series"),
        (if (r.cmp.isEmpty) lit("none") else col("alertstate"))
          .as("alertstate"),
        col("value"))
    }.reduce(_ unionAll _)
  }
}
