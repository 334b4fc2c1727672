package graft.plans

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, ExprId, Expression, Literal, TruncTimestamp, UnixTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, expr, sum}
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.DownsampleStore

/** MATERIALIZED-VIEW REWRITE as a Catalyst optimizer rule: an hourly
  * `sum by (event_type)` aggregate over the RAW events table is
  * transparently re-planned onto the 5-minute downsample rollup
  * (sources/DownsampleStore.scala) when that store is materialized —
  * the user writes the query against raw data; the optimizer serves it
  * from the table that is orders of magnitude smaller. This is the
  * aggregate-rewrite every warehouse ships (Calcite's
  * MaterializedViewRule, BigQuery/Snowflake MV smart-tuning), expressed
  * the Spark-native way: a `Rule[LogicalPlan]` injected through
  * `SparkSessionExtensions.injectOptimizerRule` — no fork, no wrapper
  * API; `spark.sql(...)` text and DataFrame trees both hit it.
  *
  * Soundness gates, in match order:
  *   1. the flag `spark.graft.rollup.rewrite` is on for THIS session
  *      (sessions are the isolation unit — a cloned session opts in
  *      without changing sibling query plans);
  *   2. the scan is a single-root parquet relation over
  *      `<dir>/events.parquet` and the MV for that exact dir is
  *      COMMITTED — the staleness gate: no store, no rewrite (the
  *      store path carries the events fingerprint, so freshness =
  *      existence, graft.Artifact's contract);
  *   3. the aggregate is EXACTLY the shape the rollup answers
  *      losslessly: grouping on (hour-truncated ts, event_type), the
  *      one measure the exact-decimal SUM of value — hour windows
  *      align to 300 s buckets (300 | 3600) and DECIMAL partial sums
  *      merge associatively, so the rewrite is bit-for-bit, not
  *      approximately, equal (the contract q_downsample_sum proves by
  *      sharing q_range_sum_by's oracle hash).
  *
  * The replacement plan re-aggregates rollup rows (≤ series × 12/hour)
  * instead of raw samples — at 100 TB the difference between scanning
  * a year of samples and scanning the rollup's few GB. Output
  * attributes keep the ORIGINAL ExprIds (re-aliased), so parent
  * operators never notice the swap. Grouping-expression matching
  * DEALIASES through any stack of Projects down to the relation, so
  * the rule is insensitive to where in the fixed-point batch it fires;
  * the rewritten plan no longer matches (the rollup scan groups on
  * `bucket div 3600`, not a timestamp trunc), so the rule is
  * idempotent under re-application.
  */
object RollupRewrite {
  /** The session opt-in flag, shared by this Catalyst rule and the
    * stepped PromQL front-end serving (SteppedRollup.scala) — one
    * switch turns on the whole MV family.
    */
  val Flag = "spark.graft.rollup.rewrite"

  /** Opt-in to the STREAM-MAINTAINED rollup store (round 13; the
    * near-real-time dashboard loop): set to a
    * streaming/RollupMaintainStream store dir and flagged queries serve
    * from it instead of the batch MV, gated by the store's `_watermark`
    * staleness marker — only steps whose whole window closes at or
    * before the horizon are served (results trail live data by the
    * watermark; they are never silently partial). The conf names the
    * store explicitly because freshness is now a BOUND, not existence:
    * choosing bounded staleness is the user's call, never the rule's.
    */
  val StreamStoreConf = "spark.graft.rollup.streamStore"

  /** HYBRID fresh-tail stepped serving (round 15; VERDICT r14 #3 — the
    * Thanos/M3 read path for a query ending at now): with this flag on
    * too, a stepped query over a stream-maintained store serves steps
    * whose whole window closes at or before the `_watermark` horizon
    * from the rollup, and evaluates the OPEN TAIL (steps past the
    * horizon) over the raw events restricted to the tail's own time
    * range — unioned into one grid. The default (off) keeps the
    * withhold-the-tail behavior: a bounded-staleness dashboard that
    * must never touch raw data. Only the stepped FRONT-END serves the
    * hybrid (the Catalyst rule keeps withholding — a tumbling Aggregate
    * carries no spec to re-evaluate a tail against).
    */
  val FreshTailConf = "spark.graft.rollup.freshTail"
}

case class RollupRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  val Flag = RollupRewrite.Flag

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!session.conf.get(Flag, "false").toBoolean) return plan
    plan.transformDown {
      case agg: Aggregate =>
        tryRewrite(agg).getOrElse(agg)
    }
  }

  /** Walk Project/Filter stacks down to a parquet relation, accumulating
    * alias substitutions (so expressions above can be compared against
    * the relation's raw columns) and the dealiased filter conjuncts
    * (round 12: a label-column filter selects WHOLE rollup groups —
    * every store row carries (user_id, event_type) — so the rewrite
    * stays lossless with the filter replayed on the store).
    */
  private def flatten(p: LogicalPlan)
      : Option[(Map[ExprId, Expression], Seq[Expression], LogicalRelation)] =
    p match {
      case r: LogicalRelation => Some((Map.empty, Nil, r))
      case Project(list, child) =>
        flatten(child).map { case (m, fs, r) =>
          val m2 = m ++ list.collect { case a: Alias =>
            a.exprId -> dealias(a.child, m)
          }
          (m2, fs, r)
        }
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, child) =>
        flatten(child).map { case (m, fs, r) =>
          (m, fs ++ conjunctsOf(cond).map(dealias(_, m)), r)
        }
      case _ => None
    }

  private def conjunctsOf(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjunctsOf(l) ++ conjunctsOf(r)
    case other => Seq(other)
  }

  private def dealias(e: Expression, m: Map[ExprId, Expression]): Expression =
    e.transformUp {
      case at: AttributeReference if m.contains(at.exprId) => m(at.exprId)
    }

  /** The expression reads exactly the relation's `ts` column, through
    * at most casts (the µs-long layout arrives as cast(ts as timestamp)).
    */
  private def isTsColumn(e: Expression): Boolean = e match {
    case at: AttributeReference => at.name == "ts"
    case c: Cast => isTsColumn(c.child)
    case _ => false
  }

  private def isHourStep(e: Expression): Boolean = e match {
    case UnixTimestamp(TruncTimestamp(Literal(fmt: UTF8String, _), ts, _), _, _, _) =>
      fmt.toString.equalsIgnoreCase("hour") && isTsColumn(ts)
    case _ => false
  }

  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Long, _) => Some(v)
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Double, _) if v == math.floor(v) && !v.isInfinite =>
      Some(v.toLong)
    case Cast(c, _, _, _) => litLong(c)
    case _ => None
  }

  private def isUnixTs(e: Expression): Boolean = e match {
    case Cast(c, _, _, _) => isUnixTs(c)
    case UnixTimestamp(ts, _, _, _) => isTsColumn(ts)
    case _ => false
  }

  /** The step width (seconds) when `e` is a bucket-ALIGNED time step the
    * rollup can tile exactly: either `unix_timestamp(date_trunc('hour',
    * ts))` (the relational entries' spelling, width 3600) or
    * `floor(unix_timestamp(ts) / W) * W` (the PromQL front-end's
    * tumbling-window spelling) for any W that is a multiple of the
    * store's 300 s resolution. 300 | W makes every W-window an exact
    * union of rollup buckets — the alignment law that keeps the rewrite
    * bit-exact at every width, not just hours.
    */
  private def alignedStep(e: Expression): Option[Long] = e match {
    case _ if isHourStep(e) => Some(3600L)
    case Cast(inner, org.apache.spark.sql.types.LongType, _, _) =>
      alignedStep(inner)
    case org.apache.spark.sql.catalyst.expressions.Multiply(
        org.apache.spark.sql.catalyst.expressions.Floor(
          org.apache.spark.sql.catalyst.expressions.Divide(ux, dEx, _)), mEx, _) =>
      for {
        d <- litLong(dEx)
        m <- litLong(mEx)
        if d == m && d > 0 &&
          d % graft.sources.DownsampleStore.ResolutionSec == 0 && isUnixTs(ux)
      } yield d
    case _ => None
  }

  private def isExactValueSum(e: Expression): Boolean = e match {
    case Cast(AggregateExpression(Sum(inner: Cast, _), _, false, None, _), DoubleType, _, _) =>
      (inner.child, inner.dataType) match {
        case (v: AttributeReference, d: DecimalType) =>
          v.name == "value" && d.precision == 30 && d.scale == 6
        case _ => false
      }
    case _ => false
  }

  /** Output kinds the rollup answers LOSSLESSLY (round 12 widened the
    * single-sum shape to the full algebraic-measure family): the two
    * grouping keys, plus sum (DECIMAL partials merge associatively),
    * min/max (order statistics compose through any partition), and
    * count (hourly row count = Σ bucket n_samples). avg is served as
    * sum/count by composition, not matched directly — a query writing
    * avg(value) computes it from the two rewritten measures.
    */
  private sealed trait OutKind
  private case class StepK(widthSec: Long) extends OutKind
  private case object EtK extends OutKind
  private case object UserK extends OutKind
  private case object SumK extends OutKind
  private case object MinK extends OutKind
  private case object MaxK extends OutKind
  private case object CntK extends OutKind
  private case object CntDblK extends OutKind
  private case object AvgK extends OutKind
  private case object LastK extends OutKind
  private case object FirstK extends OutKind

  private def isKeyKind(k: OutKind): Boolean = k match {
    case StepK(_) | EtK | UserK => true
    case _ => false
  }

  private def isValueAttr(e: Expression): Boolean = e match {
    case at: AttributeReference => at.name == "value"
    case _ => false
  }

  private def classify(e: Expression): Option[OutKind] = e match {
    case _ if alignedStep(e).isDefined => Some(StepK(alignedStep(e).get))
    case at: AttributeReference if at.name == "event_type" => Some(EtK)
    case at: AttributeReference if at.name == "user_id" => Some(UserK)
    case _ if isExactValueSum(e) => Some(SumK)
    case AggregateExpression(Min(v), _, false, None, _) if isValueAttr(v) =>
      Some(MinK)
    case AggregateExpression(Max(v), _, false, None, _) if isValueAttr(v) =>
      Some(MaxK)
    // COUNT(*) analyzes to Count(1); count(value) is equivalent ONLY
    // when the schema proves value can never be NULL — the rollup's
    // n_samples is the ROW count, and count(value) over a nullable
    // column is the non-null count, a silently different number the
    // moment a NULL lands (ADVICE r12). Parquet-read columns are
    // nullable, so in practice count(value) stays raw and only the
    // count(*)/count(1)/count(non-null-literal) spellings rewrite.
    // The literal must be NON-NULL too: count(NULL) is always 0.
    case AggregateExpression(Count(Seq(Literal(v, _))), _, false, None, _)
      if v != null => Some(CntK)
    case AggregateExpression(Count(Seq(v)), _, false, None, _)
      if isValueAttr(v) && !v.nullable => Some(CntK)
    // the PromQL count_over_time spelling: count cast to double
    case Cast(inner, DoubleType, _, _) if classify(inner).contains(CntK) =>
      Some(CntDblK)
    // avg as the exact-sum / count COMPOSITION (PromQL avg_over_time):
    // both operands are independently lossless, so the double division
    // of identical operands is identical — unlike the builtin avg(),
    // whose double running sum is order-dependent and stays unmatched
    case org.apache.spark.sql.catalyst.expressions.Divide(a, b, _)
      if isExactValueSum(a) && classify(b).contains(CntDblK) => Some(AvgK)
    // last/first_over_time: arg-max/min of value by the (µs, event_id)
    // sample key — the store's per-bucket last_value/first_value use
    // the same total order, so the window answer is the extreme
    // NON-EMPTY bucket's stored endpoint
    case AggregateExpression(
        org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy(v, k),
        _, false, None, _) if isValueAttr(v) && isSampleKey(k) => Some(LastK)
    case AggregateExpression(
        org.apache.spark.sql.catalyst.expressions.aggregate.MinBy(v, k),
        _, false, None, _) if isValueAttr(v) && isSampleKey(k) => Some(FirstK)
    case _ => None
  }

  /** The (unix_micros(ts), event_id) sample-order struct both the
    * PromQL evaluator and the downsample store's endpoint picks use.
    */
  private def isSampleKey(e: Expression): Boolean = e match {
    case cns: org.apache.spark.sql.catalyst.expressions.CreateNamedStruct =>
      cns.valExprs match {
        case Seq(t, eid: AttributeReference) =>
          eid.name == "event_id" && (t match {
            case org.apache.spark.sql.catalyst.expressions.UnixMicros(ts) =>
              isTsColumn(ts)
            case Cast(org.apache.spark.sql.catalyst.expressions.UnixMicros(ts), _, _, _) =>
              isTsColumn(ts)
            case _ => false
          })
        case _ => false
      }
    case _ => false
  }

  /** A filter conjunct the rollup can replay losslessly: a predicate
    * over the STORE'S OWN label columns (event_type / user_id) in the
    * shapes the optimizer actually produces for label matchers. Such a
    * predicate selects whole (bucket, user_id, event_type) groups, so
    * aggregation over the surviving rollup rows equals aggregation over
    * the surviving raw rows. Predicates touching ts or value are NOT
    * convertible (they cut within buckets) — returning None vetoes the
    * whole rewrite.
    */
  private def storeFilter(e: Expression): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.expressions._
    def isLabel(a: AttributeReference): Boolean =
      a.name == "event_type" || a.name == "user_id"
    def l2c(l: Literal): org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.lit(
        CatalystTypeConverters.convertToScala(l.value, l.dataType))
    e match {
      case EqualTo(a: AttributeReference, l: Literal) if isLabel(a) =>
        Some(col(a.name) === l2c(l))
      case EqualTo(l: Literal, a: AttributeReference) if isLabel(a) =>
        Some(col(a.name) === l2c(l))
      case Not(EqualTo(a: AttributeReference, l: Literal)) if isLabel(a) =>
        Some(col(a.name) =!= l2c(l))
      case GreaterThan(a: AttributeReference, l: Literal) if isLabel(a) =>
        Some(col(a.name) > l2c(l))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) if isLabel(a) =>
        Some(col(a.name) >= l2c(l))
      case LessThan(a: AttributeReference, l: Literal) if isLabel(a) =>
        Some(col(a.name) < l2c(l))
      case LessThanOrEqual(a: AttributeReference, l: Literal) if isLabel(a) =>
        Some(col(a.name) <= l2c(l))
      case In(a: AttributeReference, vs) if isLabel(a) &&
        vs.forall(_.isInstanceOf[Literal]) =>
        Some(col(a.name).isin(vs.map(v =>
          CatalystTypeConverters.convertToScala(
            v.asInstanceOf[Literal].value,
            v.asInstanceOf[Literal].dataType)): _*))
      case InSet(a: AttributeReference, vs) if isLabel(a) =>
        Some(col(a.name).isin(vs.toSeq.map(v =>
          CatalystTypeConverters.convertToScala(v, a.dataType)): _*))
      case IsNotNull(a: AttributeReference) if isLabel(a) =>
        Some(col(a.name).isNotNull)
      case _ => None
    }
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    if (agg.groupingExpressions.isEmpty || agg.groupingExpressions.size > 3 ||
      agg.aggregateExpressions.size < 2) return None
    flatten(agg.child).flatMap { case (subst, filters, rel) =>
      val fs = rel.relation match {
        case h: HadoopFsRelation => Some(h)
        case _ => None
      }
      val eventsDir = fs.flatMap { h =>
        h.location.rootPaths match {
          case Seq(one) if one.toUri.getPath.endsWith("/events.parquet") =>
            Some(new File(one.toUri.getPath).getParent)
          case _ => None
        }
      }
      eventsDir.flatMap { dir =>
        // grouping keys first: the step width picks the chain level —
        // the step plus any subset of the store's label columns;
        // absent labels roll up across (the store's finer grain
        // re-aggregates losslessly)
        val groupKinds = agg.groupingExpressions
          .map(e => classify(dealias(e, subst)))
        val gk = groupKinds.flatten
        val groupOk = groupKinds.forall(_.isDefined) &&
          gk.forall(isKeyKind) &&
          gk.count(_.isInstanceOf[StepK]) == 1 &&
          gk.distinct.size == gk.size
        val stepW = gk.collectFirst { case StepK(w) => w }
        // the raw band reads buckets from its lower fold horizon up;
        // with no fold band joining, from the beginning
        stepW.flatMap(w => RollupServing.resolve(session, dir, w % _ == 0,
            openLeft = false, counters = false)(
            sv => Some(sv.raw.lo.getOrElse(Long.MinValue)))).flatMap { sv =>
          // every output must be a grouped key or a recognized measure
          val kinds = agg.aggregateExpressions.map {
            case a: Alias => classify(dealias(a.child, subst))
            // a bare output attribute may itself be a lower Project's
            // alias (the PromQL front-end's pre-computed `step` column)
            case at: AttributeReference => classify(dealias(at, subst))
            case _ => None
          }
          val ok = kinds.flatten
          val outOk = kinds.forall(_.isDefined) &&
            ok.filter(isKeyKind).forall(gk.contains) &&
            ok.exists(k => !isKeyKind(k))
          // every filter conjunct must replay on the store's label
          // columns — one unconvertible predicate vetoes the rewrite
          val fCols = filters.map(storeFilter)
          // last/first pick the extreme bucket's stored endpoint, which
          // is only THE series endpoint when each group maps to one
          // store row per bucket: both labels must be grouped or pinned
          // by an equality filter, else two same-bucket rows tie
          val pinned: Set[OutKind] = filters.flatMap {
            case org.apache.spark.sql.catalyst.expressions.EqualTo(
                a: AttributeReference, _: Literal) =>
              if (a.name == "event_type") Some(EtK)
              else if (a.name == "user_id") Some(UserK) else None
            case org.apache.spark.sql.catalyst.expressions.EqualTo(
                _: Literal, a: AttributeReference) =>
              if (a.name == "event_type") Some(EtK)
              else if (a.name == "user_id") Some(UserK) else None
            case _ => None
          }.toSet
          val endpointOk = !ok.exists(k => k == LastK || k == FirstK) ||
            ((gk.contains(EtK) || pinned(EtK)) &&
              (gk.contains(UserK) || pinned(UserK)))
          if (groupOk && outOk && endpointOk && fCols.forall(_.isDefined))
            Some(substitute(agg, sv, ok, gk, fCols.flatten))
          else None
        }
      }
    }
  }

  /** The replacement: the label filters replayed on the rollup store,
    * re-aggregated to the query's grouping grain with the measures the
    * query asked for, projected in the query's output order and
    * re-aliased to the original ExprIds so parents are untouched.
    * Measures the query didn't ask for are pruned by the optimizer's
    * own column pruning.
    */
  private def substitute(agg: Aggregate, sv: RollupServing.Serving,
                         outKinds: Seq[OutKind], groupKinds: Seq[OutKind],
                         filters: Seq[org.apache.spark.sql.Column]): LogicalPlan = {
    // the bands tile the bucket axis disjointly and each band's bucket
    // nests in the step group (stepW % res == 0), so the step groups
    // re-aggregate the mixed-resolution union exactly: partials merge
    // associatively, order statistics compose, and the endpoint picks
    // order by bucket start, chronological across disjoint ranges
    val read = sv.bands.map { b =>
      val r = DownsampleStore.readServingPaths(session, b.paths)
      val r1 = b.hi.fold(r)(h => r.filter(col("bucket") < h))
      b.lo.fold(r1)(l => r1.filter(col("bucket") >= l))
    }.reduce(_ unionAll _)
    // a stream store serves only steps whose whole window closes at or
    // before its horizon: a half-flushed step must not serve as the
    // step's total
    val stepW = groupKinds.collectFirst { case StepK(w) => w }.get
    val bounded = sv.horizon.fold(read)(h =>
      read.filter(expr(s"(bucket div $stepW) * $stepW + $stepW <= $h")))
    val src = filters.foldLeft(bounded)(_.filter(_))
    val keyCols = groupKinds.map {
      case StepK(w) => expr(s"(bucket div $w) * $w").as("step")
      case EtK   => col("event_type")
      case UserK => col("user_id")
      case other => sys.error(s"non-key grouping kind $other")
    }
    val grouped = src.groupBy(keyCols: _*)
      .agg(
        sum("sum_dec").cast("double").as("m_sum"),
        org.apache.spark.sql.functions.min("min_value").as("m_min"),
        org.apache.spark.sql.functions.max("max_value").as("m_max"),
        sum("n_samples").as("m_cnt"),
        org.apache.spark.sql.functions
          .max_by(col("last_value"), col("bucket")).as("m_last"),
        org.apache.spark.sql.functions
          .min_by(col("first_value"), col("bucket")).as("m_first"))
    val ordered = outKinds.map {
      case StepK(_) => col("step")
      case EtK   => col("event_type")
      case UserK => col("user_id")
      case SumK  => col("m_sum")
      case MinK  => col("m_min")
      case MaxK  => col("m_max")
      case CntK  => col("m_cnt")
      case CntDblK => col("m_cnt").cast("double")
      case AvgK  => col("m_sum") / col("m_cnt").cast("double")
      case LastK => col("m_last")
      case FirstK => col("m_first")
    }
    val rew = grouped.select(ordered: _*).queryExecution.analyzed
    Project(agg.output.zip(rew.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, rew)
  }
}
