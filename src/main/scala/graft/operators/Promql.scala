package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** A PromQL front-end for the engine — the reference's user-facing query
  * language (it delegates evaluation to thanos promql-engine on top of
  * its chunk selection; reference: prometheus/promql_test.go). This is a
  * recursive-descent parser for the practical subset the §2.C operators
  * implement, compiled straight to declarative Spark plans:
  *
  *   expr     := primary (binop ["bool"] [("on"|"ignoring") "(" labels ")"]
  *                        ["group_left"|"group_right"] primary)*
  *               with Prometheus's precedence ladder (decreasing):
  *               "^" (right-assoc) > unary "+"/"-" > "*" "/" "%" "atan2"
  *               > "+" "-" > comparisons > "and"/"unless" > "or";
  *               all levels left-associative except "^";
  *               unary "-" desugars to (0 - expr)
  *   binop    := "/" | "*" | "%" | "+" | "-" | "^" | "atan2" (arithmetic)
  *             | "==" | "!=" | ">=" | "<=" | ">" | "<"  (comparison;
  *                 filter semantics, or 1/0 values with "bool")
  *             | "and" | "unless" | "or"                (set ops)
  *   primary  := agg | func | selector | number   (vector-scalar
  *               arithmetic compiles to a projection, no join)
  *   agg      := ("sum"|"avg"|"min"|"max"|"count"|"stddev"|"stdvar")
  *                 [("by"|"without") "(" labels ")"] "(" expr ")"
  *             | "quantile" [("by"|"without") "(" labels ")"]
  *                 "(" number "," expr ")"
  *             | "histogram_quantile" "(" number "," expr ")"
  *                 (the data model stores value histograms, not le
  *                  buckets: evaluates as the exact discrete quantile)
  *             | ("topk"|"bottomk"|"limitk") "(" int "," expr ")"
  *             | "limit_ratio" "(" number "," expr ")"
  *             | ("abs"|"ceil"|"floor"|"sqrt"|"exp"|"ln"|"log2"|
  *                "log10"|"sgn"|"sin"|"cos"|"tan"|"asin"|"acos"|"atan"|
  *                "sinh"|"cosh"|"tanh"|"asinh"|"acosh"|"atanh"|
  *                "deg"|"rad") "(" expr ")"
  *             | "pi" "(" ")"            (the π scalar)
  *             | "round" "(" expr ["," number] ")"
  *             | ("clamp_min"|"clamp_max") "(" expr "," number ")"
  *             | "absent" "(" selector ")"
  *             | "time" "(" ")"          (the step, as a per-step scalar)
  *             | "scalar" "(" expr ")"   (single-series value else NaN)
  *             | "vector" "(" expr ")"   (label-less vector of a scalar)
  *             | "label_replace" "(" expr "," dst "," repl "," src "," re ")"
  *             | "label_join" "(" expr "," dst "," sep ("," src)+ ")"
  *   func     := ("rate"|"increase"|"count_over_time"|"sum_over_time"|
  *                "avg_over_time"|"min_over_time"|"max_over_time"|
  *                "last_over_time"|"stddev_over_time"|"stdvar_over_time"|
  *                "mad_over_time"|"first_over_time"|"ts_of_last_over_time"|
  *                "ts_of_max_over_time"|"ts_of_min_over_time"|
  *                "histogram_count"|"histogram_sum"|"histogram_avg"|
  *                "histogram_stddev"|"histogram_stdvar"|
  *                "changes"|"resets"|"delta"|"deriv"|
  *                "rate_extrapolated"|"increase_extrapolated")
  *               "(" (selector range | expr "[" dur ":" dur "]") ")"
  *               (the second form is a SUBQUERY: the inner expr
  *                evaluates on the aligned inner-step grid, the outer
  *                function ranges over those evaluations; needs the
  *                stepped evaluator)
  *             | "histogram_fraction" "(" number "," number ","
  *                 selector range ")"   (native-histogram SLO verb)
  *             | "quantile_over_time" "(" number ","
  *                 (selector range | expr "[" dur ":" dur "]") ")"
  *   selector := (metric | "") [ "{" matcher ("," matcher)* "}" ]
  *               (metric-less form: `{event_type=~"click|view"}` —
  *                event_type stays a series label; `__name__` matchers
  *                map to the metric column)
  *               ["offset" dur] ["@" epoch-sec]     (either order; a
  *               range selector's modifiers go after the brackets:
  *               `rate(click[5m] offset 1h)`. @ pins the evaluation
  *               time and needs the stepped evaluator)
  *   matcher  := label ("="|"!="|"=~") '"' value '"'
  *   range    := "[" dur "]"        dur := int ("s"|"m"|"h")
  *
  * Data-model mapping (the events table as TSDB): metric name ⇒
  * `event_type`, labels ⇒ the remaining identity columns (`user_id`),
  * sample value ⇒ `value`, timestamp ⇒ `ts`. DERIVED labels
  * ([[derivedLabels]]): `k` ⇒ the props JSON's "k" attribute,
  * materialized (and carried as a full series label) only by queries
  * that reference it — `sum by (k)(...)`, `click{k="42"}`, etc.
  *
  * Range windows are HONORED: `rate(click[5m])` evaluates over aligned
  * 300-second windows (evaluation step = window length, i.e. tumbling
  * windows — the range-query case `step == range`). `rate`/`increase`
  * are counter-reset aware: per window, each decrease between
  * consecutive samples counts the post-reset value as growth from zero,
  * exactly Prometheus's `extrapolatedRate` reset rule (without the
  * edge extrapolation, so results are stored-value exact across
  * engines).
  *
  * Scale shape: matchers push to the parquet scan (equality/negation
  * matchers cast the LITERAL to the column type, never the column, so
  * pushdown survives); per-step aggregation is partial-agg; the
  * reset-scan is a window per (series, step) — cardinality ≫ cores;
  * binary ops join on (step, matching labels) — equi hash join;
  * `group_left` keeps the many side's labels (many-to-one matching),
  * where Catalyst/AQE broadcast the one side when it is small.
  */
object Promql {

  sealed trait Expr
  /** `extraLabels`: derived labels (see [[derivedLabels]]) the query
    * references — populated by a post-parse rewrite, so only queries
    * that mention a derived label pay for materializing it.
    */
  case class Selector(metric: String, matchers: Seq[(String, String, String)],
                      offsetSec: Long = 0L,
                      atSec: Option[Long] = None,
                      extraLabels: Seq[String] = Seq.empty) extends Expr
  case class RangeFunc(fn: String, sel: Selector, rangeSec: Long,
                       q: Double = 0.0, q2: Double = 0.0) extends Expr
  case class Agg(op: String, by: Seq[String], child: Expr, k: Int = 0,
                 without: Boolean = false, q: Double = 0.0,
                 vlabel: String = "") extends Expr
  /** `carry`: the group_left(l1, ...)/group_right(l1, ...) label list —
    * labels copied from the ONE side into the result, as PromQL.
    */
  case class BinOp(op: String, on: Seq[String], lhs: Expr, rhs: Expr,
                   ignoring: Seq[String] = Seq.empty,
                   groupLeft: Boolean = false,
                   bool: Boolean = false,
                   groupRight: Boolean = false,
                   carry: Seq[String] = Seq.empty) extends Expr
  case class Scalar(value: Double) extends Expr
  case class MathFn(fn: String, child: Expr, arg: Double = 0.0,
                    arg2: Double = 0.0) extends Expr
  /** `absent(selector)`: 1 at every evaluation step where the selector
    * matches no samples.
    */
  case class AbsentFn(sel: Selector, rangeSec: Long = 0L) extends Expr
  /** `timestamp(selector)`: the chosen sample's timestamp (epoch sec,
    * as a double) in place of its value.
    */
  case class TimestampFn(sel: Selector) extends Expr
  /** `fn(expr[rangeSec:stepSec])` — a PromQL subquery: the inner expr
    * evaluates as an instant vector on the stepSec-aligned grid, and
    * the outer range function aggregates the inner evaluations in each
    * (t − range, t] window.
    */
  case class SubqueryFunc(fn: String, child: Expr, rangeSec: Long,
                          stepSec: Long, q: Double = 0.0) extends Expr
  /** `time()` — the evaluation step as a per-step scalar. */
  case object TimeFn extends Expr
  /** `scalar(expr)` — the child vector as a per-step scalar: its value
    * when the step has exactly one series, NaN otherwise (PromQL
    * scalar()).
    */
  case class ScalarOf(child: Expr) extends Expr
  /** `vector(scalar)` — a label-less vector carrying the scalar at
    * every step.
    */
  case class VectorOf(child: Expr) extends Expr
  /** `label_replace(v, dst, replacement, src, regex)`: when the ANCHORED
    * regex matches the src label's string form, dst becomes the
    * replacement with $N group references expanded; otherwise dst is
    * the empty string (a missing label, in Prometheus terms). A pure
    * projection.
    */
  case class LabelReplace(child: Expr, dst: String, repl: String,
                          src: String, regex: String) extends Expr
  /** `label_join(v, dst, sep, src...)`: dst = the src labels' string
    * forms joined with sep. A pure projection.
    */
  case class LabelJoin(child: Expr, dst: String, sep: String,
                       srcs: Seq[String]) extends Expr
  /** `sort(v)` / `sort_desc(v)` — PromQL's presentation ordering of the
    * final instant vector. A DataFrame has no row order to carry, so
    * the order is MATERIALIZED as a `rank` column (row_number per step
    * in value order, labels as the deterministic tiebreak; Prometheus
    * itself keeps sort presentation-only and even documents that range
    * queries ignore it). Per-step ranking is a window over one step's
    * series — bounded by series cardinality, never by sample count.
    */
  case class SortFn(child: Expr, desc: Boolean) extends Expr
  case class SortByLabel(child: Expr, labels: Seq[String],
                         desc: Boolean) extends Expr

  // ---- parser ----------------------------------------------------------

  private class P(s: String) {
    private var i = 0
    private def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def eof: Boolean = { ws(); i >= s.length }
    def peek(tok: String): Boolean = { ws(); s.startsWith(tok, i) }
    /** Word-keyword lookahead: like peek, but the keyword must end at an
      * identifier boundary — `on(` matches, a metric named `online` must
      * not be eaten as `on` + `line`.
      */
    def peekKeyword(kw: String): Boolean = {
      ws()
      s.startsWith(kw, i) && {
        val j = i + kw.length
        j >= s.length || !(s(j).isLetterOrDigit || s(j) == '_')
      }
    }
    def eat(tok: String): Unit = {
      ws()
      if (!s.startsWith(tok, i)) fail(s"expected '$tok'")
      i += tok.length
    }
    def ident(): String = {
      ws()
      val start = i
      while (i < s.length && (s(i).isLetterOrDigit || s(i) == '_')) i += 1
      if (i == start) fail("expected identifier")
      s.substring(start, i)
    }
    def quoted(): String = {
      eat("\"")
      val sb = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\' && i + 1 < s.length) {
          // PromQL string escapes (Go syntax): the common subset;
          // unknown escapes (e.g. regex \d) pass through verbatim
          i += 1
          s(i) match {
            case 'n' => sb += '\n'
            case 't' => sb += '\t'
            case '\\' => sb += '\\'
            case '"' => sb += '"'
            case other => sb += '\\'; sb += other
          }
        } else sb += s(i)
        i += 1
      }
      if (i >= s.length) fail("unterminated string")
      i += 1
      sb.toString
    }
    def int(): Int = {
      ws()
      val start = i
      while (i < s.length && s(i).isDigit) i += 1
      if (i == start) fail("expected integer")
      s.substring(start, i).toInt
    }
    /** Duration in seconds. PromQL compound form supported: `1h30m`.
      * Units s/m/h/d/w/y (y = 365d); ms is rejected — the engine's
      * time grid is whole seconds.
      */
    def duration(): Long = {
      ws()
      var total = 0L
      var more = true
      var first = true
      // compound components must be ADJACENT (`1h30m`, not `1h 30m`)
      while (more) {
        if (i < s.length && s(i).isDigit) {
          val n = int()
          val unitStart = i
          var u = ""
          while (i < s.length && s(i).isLetter) i += 1
          u = s.substring(unitStart, i)
          total += (u match {
            case "s" => n.toLong
            case "m" => n * 60L
            case "h" => n * 3600L
            case "d" => n * 86400L
            case "w" => n * 604800L
            case "y" => n * 31536000L
            case "ms" => fail("sub-second durations are not supported (whole-second grid)")
            case other => fail(s"unknown duration unit '$other'")
          })
          first = false
        } else {
          if (first) fail("expected duration")
          more = false
        }
      }
      total
    }
    /** Numeric literal (scalar), if next: optional '-', digits, optional
      * fraction — clamp bounds and offsets are legitimately negative.
      */
    def number(): Option[Double] = {
      ws()
      val start = i
      if (i < s.length && s(i) == '-') i += 1
      val digitsStart = i
      while (i < s.length && s(i).isDigit) i += 1
      if (i == digitsStart) { i = start; return None }
      if (i < s.length && s(i) == '.') {
        i += 1
        while (i < s.length && s(i).isDigit) i += 1
      }
      // optional exponent (2e3, 1.5E-4); backtrack if no digits follow
      if (i < s.length && (s(i) == 'e' || s(i) == 'E')) {
        val expStart = i
        i += 1
        if (i < s.length && (s(i) == '+' || s(i) == '-')) i += 1
        val dStart = i
        while (i < s.length && s(i).isDigit) i += 1
        if (i == dStart) i = expStart
      }
      Some(s.substring(start, i).toDouble)
    }
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"PromQL parse error at ${i}: $msg in '$s'")
  }

  private val aggOps = Set("sum", "avg", "min", "max", "count", "stddev", "stdvar", "group")
  private val timeComponentFns = Set("hour", "minute", "month", "year",
    "day_of_month", "day_of_week", "day_of_year", "days_in_month")
  private val unaryMathFns = Set("abs", "ceil", "floor", "sqrt", "exp",
    "ln", "log2", "log10", "sgn",
    // the Prometheus trig family. Oracle caution (measured on real
    // data): JVM and libm trig differ in the last ulp on a few per
    // mille of values (sin: 5/1989 at sf0.01), and Spark's asinh/
    // acosh/atanh are log-formula composites — the whole family stays
    // out of hash-oracled entries (rows-only, like atan2)
    "sin", "cos", "tan", "asin", "acos", "atan",
    "sinh", "cosh", "tanh", "asinh", "acosh", "atanh",
    "deg", "rad") ++ timeComponentFns
  private val mathFns = unaryMathFns ++ Set("clamp_min", "clamp_max", "round", "clamp")
  private val rangeFns = Set("rate", "increase", "count_over_time",
    "sum_over_time", "avg_over_time", "min_over_time", "max_over_time",
    "last_over_time", "stddev_over_time", "stdvar_over_time",
    "mad_over_time",
    "changes", "resets", "delta", "deriv", "irate", "idelta",
    "present_over_time", "first_over_time",
    "ts_of_last_over_time", "ts_of_max_over_time", "ts_of_min_over_time",
    "histogram_count", "histogram_sum", "histogram_avg",
    "histogram_stddev", "histogram_stdvar",
    "rate_extrapolated", "increase_extrapolated")
  // longest-first so ">=" is not eaten as ">" + "="
  private val cmpOps = Seq("==", "!=", ">=", "<=", ">", "<")
  private val setOps = Set("and", "unless", "or")

  /** Derived labels of the data model: name → projection over the raw
    * events schema. `k` is the props JSON's "k" attribute — a label
    * that exists in the payload, not as a physical column (the
    * reference's schema treats every label as a column; a derived
    * label is the Spark-side analogue of a lazily materialized one).
    * The projection is a codegen'd builtin, and Catalyst prunes
    * `props` from the scan whenever the query does not reference the
    * label.
    */
  private val derivedLabels: Seq[(String, Column)] = Seq(
    "k" -> regexp_extract(col("props"), "\"k\": (\\d+)", 1))

  // reserved evaluator column names: a derived label with one of these
  // names would be silently clobbered by the evaluator's own
  // withColumn/groupBy axes (the round-13 `k` explode collision, made
  // a registration-time error instead of a per-site trap)
  private val ReservedCols =
    Set("step", "value", "ts", "ts_ns", "us", "event_id", "istep")
  require(derivedLabels.forall(d => !ReservedCols(d._1)),
    s"derived label names must avoid the evaluator's reserved columns $ReservedCols")

  /** The projection a non-physical label materializes through — the
    * registry projection for registry labels, the generic props-JSON
    * attribute (coalesced to "", Prometheus's absent-label semantics)
    * otherwise. Shared with RuleGroup so a group's label grain is
    * column-identical to the evaluator's.
    */
  private[graft] def labelProjection(name: String): Column =
    derivedLabels.toMap.getOrElse(name,
      coalesce(get_json_object(col("props"), s"$$.$name"), lit("")))

  /** True iff `n` would collide with an evaluator-owned or physical
    * column, or with a REGISTRY derived label (whose projection shape
    * a payload writer cannot honor) — the registration-time check
    * payload-label writers (sources/RecordedRules.toSamples) run
    * instead of silently clobbering a column at query time.
    */
  private[graft] def reservedLabelName(n: String): Boolean =
    ReservedCols(n) || n == "props" || n == "user_id" || n == "event_type" ||
      derivedLabels.exists(_._1 == n)

  /** Labels the expression CREATES mid-plan (label_replace/label_join
    * destinations, count_values' value label): these must NOT be
    * pre-materialized from props at the scan — the evaluator builds
    * them itself.
    */
  private def createdLabels(e: Expr): Set[String] = e match {
    case a: Agg =>
      (if (a.op == "count_values") Set(a.vlabel) else Set.empty[String]) ++
        createdLabels(a.child)
    case b: BinOp => createdLabels(b.lhs) ++ createdLabels(b.rhs)
    case m: MathFn => createdLabels(m.child)
    case sq: SubqueryFunc => createdLabels(sq.child)
    case so: ScalarOf => createdLabels(so.child)
    case vo: VectorOf => createdLabels(vo.child)
    case lr: LabelReplace => Set(lr.dst) ++ createdLabels(lr.child)
    case lj: LabelJoin => Set(lj.dst) ++ createdLabels(lj.child)
    // sort()/sort_by_label() are pass-throughs (ADVICE r16): a
    // label_replace/count_values under them must keep its created-label
    // exemption, or the scan pre-materializes a label the evaluator
    // builds itself
    case sf: SortFn => createdLabels(sf.child)
    case sl: SortByLabel => createdLabels(sl.child)
    case _ => Set.empty
  }

  /** Every label name the expression references — matcher keys, agg
    * by/without lists, vector-matching on/ignoring lists, label-fn
    * sources.
    */
  private def referencedLabels(e: Expr): Set[String] = e match {
    case s: Selector => s.matchers.map(_._1).toSet
    case r: RangeFunc => referencedLabels(r.sel)
    case a: Agg => a.by.toSet ++ referencedLabels(a.child)
    case b: BinOp =>
      b.on.toSet ++ b.ignoring.toSet ++ b.carry.toSet ++
        referencedLabels(b.lhs) ++ referencedLabels(b.rhs)
    case m: MathFn => referencedLabels(m.child)
    case ab: AbsentFn => referencedLabels(ab.sel)
    case t: TimestampFn => referencedLabels(t.sel)
    case sq: SubqueryFunc => referencedLabels(sq.child)
    case so: ScalarOf => referencedLabels(so.child)
    case vo: VectorOf => referencedLabels(vo.child)
    case lr: LabelReplace => Set(lr.src) ++ referencedLabels(lr.child)
    case lj: LabelJoin => lj.srcs.toSet ++ referencedLabels(lj.child)
    // sort_by_label's own key labels are references (ADVICE r16: a
    // payload label stored by a multi-label recording rule must resolve
    // when it is only named as a sort key), and both sorts recurse
    case sf: SortFn => referencedLabels(sf.child)
    case sl: SortByLabel => sl.labels.toSet ++ referencedLabels(sl.child)
    case _ => Set.empty // Scalar, TimeFn
  }

  private def mapSelectors(e: Expr, f: Selector => Selector): Expr = e match {
    case s: Selector => f(s)
    case r: RangeFunc => r.copy(sel = f(r.sel))
    case a: Agg => a.copy(child = mapSelectors(a.child, f))
    case b: BinOp =>
      b.copy(lhs = mapSelectors(b.lhs, f), rhs = mapSelectors(b.rhs, f))
    case m: MathFn => m.copy(child = mapSelectors(m.child, f))
    case ab: AbsentFn => ab.copy(sel = f(ab.sel))
    case t: TimestampFn => t.copy(sel = f(t.sel))
    case sq: SubqueryFunc => sq.copy(child = mapSelectors(sq.child, f))
    case so: ScalarOf => so.copy(child = mapSelectors(so.child, f))
    case vo: VectorOf => vo.copy(child = mapSelectors(vo.child, f))
    case lr: LabelReplace => lr.copy(child = mapSelectors(lr.child, f))
    case lj: LabelJoin => lj.copy(child = mapSelectors(lj.child, f))
    case sf: SortFn => sf.copy(child = mapSelectors(sf.child, f))
    case sl: SortByLabel => sl.copy(child = mapSelectors(sl.child, f))
    case other => other // Scalar, TimeFn
  }

  def parse(q: String): Expr = {
    val p = new P(q)
    val e = parseExpr(p)
    if (!p.eof) p.fail("trailing input")
    // thread any referenced derived label into every selector, so the
    // whole evaluation (labels, joins, output schema) carries it.
    // Registry labels ("k") use their registered projection; any OTHER
    // referenced label that is neither a physical column, a reserved
    // evaluator name, nor created by the expression itself is a
    // GENERIC payload label, served from the props JSON (round 16 —
    // the channel multi-label recorded rules store their by() sets in;
    // Prometheus's "labels are a bag" model, with the two hot labels
    // as physical columns and the rest lazily materialized)
    val refs = referencedLabels(e)
    val registry = derivedLabels.map(_._1).filter(refs)
    val created = createdLabels(e)
    val generic = (refs -- derivedLabels.map(_._1).toSet -- created)
      .filterNot(reservedLabelName).toSeq.sorted
    val derived = registry ++ generic
    if (derived.isEmpty) e
    else mapSelectors(e, s => s.copy(extraLabels = derived))
  }

  /** Binary operators parse as Prometheus's precedence ladder
    * (decreasing): `^` (right-assoc) > unary `+`/`-` > `*` `/` `%`
    * `atan2` > `+` `-` > comparisons (with optional `bool`) >
    * `and`/`unless` > `or`. Every level is left-associative except `^`.
    */
  private def parseExpr(p: P): Expr = parseOr(p)

  /** The `bool` + vector-matching modifiers that may follow any binary
    * operator: `bool` (comparisons only) turns filter semantics into
    * 1/0 values; on(...) XOR ignoring(...) picks the match labels; an
    * optional group_left/group_right keeps the many side's labels.
    */
  private def binModifiers(p: P, op: String): (Boolean, Seq[String], Seq[String], Boolean, Boolean, Seq[String]) = {
    val boolMod = cmpOps.contains(op) && p.peekKeyword("bool") && {
      p.eat("bool"); true
    }
    val (on, ignoring) =
      if (p.peekKeyword("on")) { p.eat("on"); (labelList(p), Seq.empty[String]) }
      else if (p.peekKeyword("ignoring")) { p.eat("ignoring"); (Seq.empty[String], labelList(p)) }
      else (Seq.empty[String], Seq.empty[String])
    val gl = if (p.peekKeyword("group_left")) { p.eat("group_left"); true } else false
    val gr = !gl && (if (p.peekKeyword("group_right")) { p.eat("group_right"); true } else false)
    // group_left(l1, ...) / group_right(l1, ...): labels copied from
    // the one side into the result
    val carry = if ((gl || gr) && p.peek("(")) labelList(p) else Seq.empty
    (boolMod, on, ignoring, gl, gr, carry)
  }

  /** One left-associative precedence level: `ops` are tried
    * longest-first; `keyword` ops must end at an identifier boundary
    * (`and` must not eat a metric named `android`).
    */
  private def binLevel(p: P, ops: Seq[String], keyword: Boolean,
                       next: P => Expr): Expr = {
    var lhs = next(p)
    var more = true
    while (more) {
      (if (keyword) ops.find(p.peekKeyword) else ops.find(p.peek)) match {
        case Some(op) =>
          p.eat(op)
          val (boolMod, on, ignoring, gl, gr, carry) = binModifiers(p, op)
          lhs = BinOp(op, on, lhs, next(p), ignoring, gl, boolMod, gr, carry)
        case None => more = false
      }
    }
    lhs
  }

  private def parseOr(p: P): Expr =
    binLevel(p, Seq("or"), keyword = true, parseAndUnless)
  private def parseAndUnless(p: P): Expr =
    binLevel(p, Seq("and", "unless"), keyword = true, parseCompare)
  private def parseCompare(p: P): Expr =
    binLevel(p, cmpOps, keyword = false, parseAddSub)
  private def parseAddSub(p: P): Expr =
    binLevel(p, Seq("+", "-"), keyword = false, parseMulDiv)

  /** `*` `/` `%` (symbols) and `atan2` (keyword) share a level. */
  private def parseMulDiv(p: P): Expr = {
    var lhs = parseUnary(p)
    var more = true
    while (more) {
      val op = Seq("*", "/", "%").find(p.peek)
        .orElse(if (p.peekKeyword("atan2")) Some("atan2") else None)
      op match {
        case Some(o) =>
          p.eat(o)
          val (boolMod, on, ignoring, gl, gr, carry) = binModifiers(p, o)
          lhs = BinOp(o, on, lhs, parseUnary(p), ignoring, gl, boolMod, gr, carry)
        case None => more = false
      }
    }
    lhs
  }

  /** Unary `+`/`-`: binds tighter than `*` but looser than `^`
    * (`-2^2` is `-(2^2)`, as Prometheus). `-e` desugars to `0 - e` —
    * Prometheus's own definition — NOT `-1 * e`: `-1 * 0.0` is `-0.0`,
    * whose string form would diverge from the oracle's `0 - 0.0`.
    */
  private def parseUnary(p: P): Expr =
    if (p.peek("-")) {
      p.eat("-")
      parseUnary(p) match {
        case Scalar(v) => Scalar(-v)
        case e => BinOp("-", Seq.empty, Scalar(0), e)
      }
    } else if (p.peek("+")) { p.eat("+"); parseUnary(p) }
    else parsePow(p)

  /** `^` — the tightest binary level, right-associative (`2^3^2` is
    * `2^(3^2)`); the exponent may carry a unary sign (`x^-2`).
    */
  private def parsePow(p: P): Expr = {
    val base = parsePrimary(p)
    if (p.peek("^")) {
      p.eat("^")
      val (boolMod, on, ignoring, gl, gr, carry) = binModifiers(p, "^")
      BinOp("^", on, base, parseUnary(p), ignoring, gl, boolMod, gr, carry)
    } else base
  }

  private def labelList(p: P): Seq[String] = {
    p.eat("(")
    val out = scala.collection.mutable.Buffer(p.ident())
    while (p.peek(",")) { p.eat(","); out += p.ident() }
    p.eat(")")
    out.toSeq
  }

  private def parsePrimary(p: P): Expr = {
    if (p.peek("(")) {
      p.eat("("); val e = parseExpr(p); p.eat(")"); return e
    }
    p.number().foreach(v => return Scalar(v))
    // metric-less selector: `{event_type=~"click|view"}` — matchers
    // only; event_type (the metric-name label) stays a series label
    if (p.peek("{")) return parseSelectorTail(p, "")
    val name = p.ident()
    if (mathFns(name)) {
      p.eat("(")
      // bare `hour()` etc. default to the evaluation timestamp:
      // hour(vector(time())), as PromQL
      if (timeComponentFns(name) && p.peek(")")) {
        p.eat(")")
        return MathFn(name, VectorOf(TimeFn))
      }
      val child = parseExpr(p)
      if (name == "clamp") {
        p.eat(","); val lo = p.number().getOrElse(p.fail("expected min"))
        p.eat(","); val hi = p.number().getOrElse(p.fail("expected max"))
        p.eat(")")
        return MathFn("clamp", child, lo, hi)
      }
      val arg = name match {
        case n if unaryMathFns(n) =>
          if (p.peek(",")) p.fail(s"$n takes exactly one argument") else 0.0
        case "round" =>
          if (p.peek(",")) {
            p.eat(",")
            val a = p.number().getOrElse(p.fail("expected number"))
            if (a <= 0.0) p.fail("round to_nearest must be > 0")
            a
          } else 1.0
        case _ => // clamp_min / clamp_max
          if (p.peek(",")) {
            p.eat(","); p.number().getOrElse(p.fail("expected number"))
          } else p.fail(s"$name needs a bound")
      }
      p.eat(")")
      MathFn(name, child, arg)
    } else if (name == "time") {
      p.eat("("); p.eat(")")
      TimeFn
    } else if (name == "pi") {
      p.eat("("); p.eat(")")
      Scalar(math.Pi)
    } else if (name == "scalar") {
      p.eat("("); val c = parseExpr(p); p.eat(")")
      ScalarOf(c)
    } else if (name == "vector") {
      p.eat("("); val c = parseExpr(p); p.eat(")")
      VectorOf(c)
    } else if (name == "label_replace") {
      p.eat("("); val c = parseExpr(p)
      p.eat(","); val dst = p.quoted()
      p.eat(","); val repl = p.quoted()
      p.eat(","); val src = p.quoted()
      p.eat(","); val re = p.quoted()
      p.eat(")")
      LabelReplace(c, dst, repl, if (src == "__name__") "event_type" else src, re)
    } else if (name == "label_join") {
      p.eat("("); val c = parseExpr(p)
      p.eat(","); val dst = p.quoted()
      p.eat(","); val sep = p.quoted()
      val srcs = scala.collection.mutable.Buffer.empty[String]
      while (p.peek(",")) {
        p.eat(",")
        val l = p.quoted()
        srcs += (if (l == "__name__") "event_type" else l)
      }
      p.eat(")")
      if (srcs.isEmpty) p.fail("label_join needs at least one source label")
      LabelJoin(c, dst, sep, srcs.toSeq)
    } else if (name == "sort" || name == "sort_desc") {
      p.eat("("); val c = parseExpr(p); p.eat(")")
      SortFn(c, name == "sort_desc")
    } else if (name == "sort_by_label" || name == "sort_by_label_desc") {
      // Prometheus 3.x experimental: sort the vector by LABEL VALUES
      // (lexicographic string compare, per Prometheus), not by sample
      p.eat("("); val c = parseExpr(p)
      val ls = scala.collection.mutable.Buffer.empty[String]
      while (p.peek(",")) {
        p.eat(",")
        val l = p.quoted()
        ls += (if (l == "__name__") "event_type" else l)
      }
      p.eat(")")
      if (ls.isEmpty) p.fail("sort_by_label needs at least one label")
      SortByLabel(c, ls.toSeq, name.endsWith("_desc"))
    } else if (name == "topk" || name == "bottomk") {
      // `topk by(label)(k, expr)` ranks within each (step, group) key
      val (by, without) =
        if (p.peekKeyword("by")) { p.eat("by"); (labelList(p), false) }
        else if (p.peekKeyword("without")) { p.eat("without"); (labelList(p), true) }
        else (Seq.empty[String], false)
      p.eat("("); val k = p.int(); p.eat(","); val child = parseExpr(p); p.eat(")")
      Agg(name, by, child, k, without = without)
    } else if (name == "limitk") {
      // Prometheus 3.x experimental sampling aggregator. Prometheus
      // keeps an ARBITRARY k series; this engine keeps a DETERMINISTIC
      // k — the smallest md5('lk:'‖labels) — so results are stable
      // across runs/partitionings and the same series survives at
      // every step it exists in (the hash ignores step and value).
      val (by, without) =
        if (p.peekKeyword("by")) { p.eat("by"); (labelList(p), false) }
        else if (p.peekKeyword("without")) { p.eat("without"); (labelList(p), true) }
        else (Seq.empty[String], false)
      p.eat("("); val k = p.int(); p.eat(","); val child = parseExpr(p); p.eat(")")
      Agg("limitk", by, child, k, without = without)
    } else if (name == "limit_ratio") {
      // limit_ratio(r, v): keep series whose 48-bit label-hash uniform
      // u < r; negative r keeps the COMPLEMENT (u ≥ 1+r), so
      // limit_ratio(r, v) and limit_ratio(r-1, v) partition the vector
      // exactly — the Prometheus contract, here fully deterministic.
      val (by, without) =
        if (p.peekKeyword("by")) { p.eat("by"); (labelList(p), false) }
        else if (p.peekKeyword("without")) { p.eat("without"); (labelList(p), true) }
        else (Seq.empty[String], false)
      p.eat("(")
      val r = p.number().getOrElse(p.fail("expected ratio in [-1,1]"))
      if (r < -1.0 || r > 1.0) p.fail("limit_ratio must be in [-1,1]")
      p.eat(","); val child = parseExpr(p); p.eat(")")
      Agg("limit_ratio", by, child, without = without, q = r)
    } else if (name == "quantile_over_time") {
      p.eat("(")
      val phi = p.number().getOrElse(p.fail("expected quantile in [0,1]"))
      if (phi < 0.0 || phi > 1.0) p.fail("quantile must be in [0,1]")
      p.eat(",")
      val arg = parseExpr(p)
      p.eat("["); val secs = p.duration()
      if (p.peek(":")) {
        p.eat(":")
        val innerStep = p.duration()
        p.eat("]"); p.eat(")")
        SubqueryFunc("quantile_over_time", arg, secs, innerStep, phi)
      } else {
        p.eat("]")
        val sel = arg match {
          case s: Selector => s
          case _ => p.fail("a range selector needs a plain selector; " +
            "use [range:step] to range over an expression (subquery)")
        }
        val modded = parseRangeModifiers(p, sel)
        p.eat(")")
        RangeFunc("quantile_over_time", modded, secs, phi)
      }
    } else if (name == "histogram_quantile") {
      // two forms, matching the two histogram kinds Prometheus has:
      //   histogram_quantile(phi, expr)   — instant-vector arg: the
      //     data model stores VALUE histograms, not le-bucketed
      //     counter series, so this evaluates as the exact discrete
      //     cross-series quantile (documented divergence: no
      //     per-bucket interpolation — there are no buckets)
      //   histogram_quantile(phi, sel[w]) — range-selector arg: the
      //     NATIVE-histogram form; the window's samples form the
      //     schema-0 histogram and the quantile interpolates between
      //     the exact power-of-two bucket bounds (the
      //     TimeSeries.nhistQuantile law, keyed per series)
      p.eat("(")
      val phi = p.number().getOrElse(p.fail("expected quantile in [0,1]"))
      if (phi < 0.0 || phi > 1.0) p.fail("quantile must be in [0,1]")
      p.eat(","); val child = parseExpr(p)
      if (p.peek("[")) {
        p.eat("["); val secs = p.duration(); p.eat("]")
        val sel = child match {
          case s: Selector => s
          case _ => p.fail("the native histogram_quantile form needs " +
            "a plain range selector")
        }
        val modded = parseRangeModifiers(p, sel)
        p.eat(")")
        RangeFunc("histogram_quantile", modded, secs, phi)
      } else {
        p.eat(")")
        Agg("quantile", Seq.empty, child, q = phi)
      }
    } else if (name == "absent") {
      p.eat("("); val sel = parseSelector(p); p.eat(")")
      AbsentFn(sel)
    } else if (name == "absent_over_time") {
      p.eat("("); val sel = parseSelector(p)
      p.eat("["); val secs = p.duration(); p.eat("]")
      val modded = parseRangeModifiers(p, sel)
      p.eat(")")
      AbsentFn(modded, secs)
    } else if (name == "timestamp") {
      p.eat("("); val sel = parseSelector(p); p.eat(")")
      TimestampFn(sel)
    } else if (name == "predict_linear") {
      p.eat("(")
      val arg = parseExpr(p)
      p.eat("["); val secs = p.duration()
      if (p.peek(":")) {
        p.eat(":")
        val innerStep = p.duration()
        p.eat("]"); p.eat(",")
        val t = p.number().getOrElse(p.fail("expected prediction offset"))
        p.eat(")")
        SubqueryFunc("predict_linear", arg, secs, innerStep, t)
      } else {
        p.eat("]")
        val sel = arg match {
          case sl: Selector => sl
          case _ => p.fail("a range selector needs a plain selector; " +
            "use [range:step] to range over an expression (subquery)")
        }
        val modded = parseRangeModifiers(p, sel)
        p.eat(",")
        val t = p.number().getOrElse(p.fail("expected prediction offset"))
        p.eat(")")
        RangeFunc("predict_linear", modded, secs, t)
      }
    } else if (name == "count_values") {
      val (by, without) =
        if (p.peekKeyword("by")) { p.eat("by"); (labelList(p), false) }
        else if (p.peekKeyword("without")) { p.eat("without"); (labelList(p), true) }
        else (Seq.empty[String], false)
      p.eat("(")
      val lbl = p.quoted()
      p.eat(","); val child = parseExpr(p); p.eat(")")
      Agg("count_values", by, child, without = without, vlabel = lbl)
    } else if (name == "histogram_fraction") {
      // histogram_fraction(lo, hi, v[d]) — the native-histogram SLO
      // verb: fraction of the window's sample mass inside (lo, hi],
      // estimated from the schema-0 buckets the window's samples
      // implicitly form (see the rangeOver histogram_* family note).
      p.eat("(")
      val lo = p.number().getOrElse(p.fail("expected lower bound"))
      p.eat(",")
      val hi = p.number().getOrElse(p.fail("expected upper bound"))
      if (hi <= lo) p.fail("histogram_fraction needs lo < hi")
      p.eat(",")
      val sel = parseSelector(p)
      p.eat("["); val secs = p.duration(); p.eat("]")
      val modded = parseRangeModifiers(p, sel)
      p.eat(")")
      RangeFunc("histogram_fraction", modded, secs, lo, hi)
    } else if (name == "holt_winters" ||
               name == "double_exponential_smoothing") {
      // holt_winters(v[d], sf, tf): double exponential smoothing.
      // Prometheus 3.x renamed the function double_exponential_smoothing
      // (same semantics, behind --enable-feature=promql-experimental-
      // functions); both spellings parse to the one evaluator.
      p.eat("(")
      val sel = parseSelector(p)
      p.eat("["); val secs = p.duration(); p.eat("]")
      val modded = parseRangeModifiers(p, sel)
      p.eat(","); val sf = p.number().getOrElse(p.fail("expected smoothing factor"))
      p.eat(","); val tf = p.number().getOrElse(p.fail("expected trend factor"))
      // Prometheus funcHoltWinters: 0 < sf < 1, 0 < tf <= 1
      if (sf <= 0.0 || sf >= 1.0) p.fail("smoothing factor must be in (0, 1)")
      if (tf <= 0.0 || tf > 1.0) p.fail("trend factor must be in (0, 1]")
      p.eat(")")
      RangeFunc("holt_winters", modded, secs, sf, tf)
    } else if (name == "quantile") {
      val (by, without) =
        if (p.peekKeyword("by")) { p.eat("by"); (labelList(p), false) }
        else if (p.peekKeyword("without")) { p.eat("without"); (labelList(p), true) }
        else (Seq.empty[String], false)
      p.eat("(")
      val phi = p.number().getOrElse(p.fail("expected quantile in [0,1]"))
      if (phi < 0.0 || phi > 1.0) p.fail("quantile must be in [0,1]")
      p.eat(","); val child = parseExpr(p); p.eat(")")
      Agg("quantile", by, child, without = without, q = phi)
    } else if (aggOps(name)) {
      val (by, without) =
        if (p.peekKeyword("by")) { p.eat("by"); (labelList(p), false) }
        else if (p.peekKeyword("without")) { p.eat("without"); (labelList(p), true) }
        else (Seq.empty[String], false)
      p.eat("("); val child = parseExpr(p); p.eat(")")
      Agg(name, by, child, without = without)
    } else if (rangeFns(name)) {
      p.eat("(")
      // the argument is a plain selector (range selector) or any expr
      // followed by [range:step] (subquery) — parseExpr stops at '['
      val arg = parseExpr(p)
      p.eat("[")
      val secs = p.duration()
      if (p.peek(":")) {
        p.eat(":")
        val innerStep = p.duration()
        p.eat("]"); p.eat(")")
        SubqueryFunc(name, arg, secs, innerStep)
      } else {
        p.eat("]")
        val sel = arg match {
          case s: Selector => s
          case _ => p.fail("a range selector needs a plain selector; " +
            "use [range:step] to range over an expression (subquery)")
        }
        val modded = parseRangeModifiers(p, sel)
        p.eat(")")
        RangeFunc(name, modded, secs)
      }
    } else parseSelectorTail(p, name)
  }

  private def parseSelector(p: P): Selector = parseSelectorTail(p, p.ident())

  /** PromQL places a range selector's offset/@ AFTER the brackets
    * (`rate(click[5m] offset 1h @ 1704067200)`, either order) — shared
    * by every range-function branch.
    */
  /** `offset` accepts a negative duration (`offset -1h` looks forward),
    * as PromQL.
    */
  private def signedDuration(p: P): Long =
    if (p.peek("-")) { p.eat("-"); -p.duration() } else p.duration()

  private def parseRangeModifiers(p: P, sel: Selector): Selector = {
    var off = sel.offsetSec
    var at = sel.atSec
    var more = true
    while (more) {
      if (p.peekKeyword("offset")) { p.eat("offset"); off = signedDuration(p) }
      else if (p.peek("@")) {
        p.eat("@")
        at = Some(p.number().getOrElse(p.fail("expected @ timestamp")).toLong)
      } else more = false
    }
    sel.copy(offsetSec = off, atSec = at)
  }

  private def parseSelectorTail(p: P, metric: String): Selector = {
    val ms = scala.collection.mutable.Buffer.empty[(String, String, String)]
    if (p.peek("{")) {
      p.eat("{")
      while (!p.peek("}")) {
        val l0 = p.ident()
        // PromQL's reserved metric-name label maps to the data model's
        // metric column
        val l = if (l0 == "__name__") "event_type" else l0
        val op = if (p.peek("!=")) { p.eat("!="); "!=" }
          else if (p.peek("=~")) { p.eat("=~"); "=~" }
          else { p.eat("="); "=" }
        ms += ((l, op, p.quoted()))
        if (p.peek(",")) p.eat(",")
      }
      p.eat("}")
    }
    // offset and @ accept either order, as PromQL
    var off = 0L
    var at: Option[Long] = None
    var more = true
    while (more) {
      if (p.peekKeyword("offset")) { p.eat("offset"); off = signedDuration(p) }
      else if (p.peek("@")) {
        p.eat("@")
        at = Some(p.number().getOrElse(p.fail("expected @ timestamp")).toLong)
      } else more = false
    }
    Selector(metric, ms.toSeq, off, at)
  }

  // ---- evaluator -------------------------------------------------------

  private def stepHour(c: Column): Column =
    unix_timestamp(date_trunc("hour", c)).as("step")

  /** Aligned window bucket of `rangeSec` as epoch seconds. */
  private def stepOf(c: Column, rangeSec: Long): Column =
    (floor(unix_timestamp(c) / rangeSec) * rangeSec).cast("long")

  // the shared determinism-contract kernels (one definition site)
  private def exactSum(c: Column): Column = graft.functions.ExactNum.exactSum(c)
  private def exactSumSq(c: Column): Column = graft.functions.ExactNum.exactSumSq(c)

  /** Samples matching a selector, via the shared matcher path
    * (Scan.applyMatchers): equality/negation cast the literal so the
    * predicate reaches the parquet scan; regex resolves over the
    * distinct label set and broadcast-semi-joins (dictionary pushdown).
    * `offset` shifts samples forward so step t reports data from
    * t − offset (PromQL offset modifier).
    *
    * `boundsSec` is the evaluation's [start − window, end] range on the
    * SHIFTED time axis (epoch sec). It is expressed on the raw `ts_ns`
    * column, un-shifted by the selector's offset, so the bound reaches
    * the parquet scan as a pushed filter and prunes row groups — the
    * reference never reads outside (mint, maxt) either: its querier is
    * created with the query's time range (reference:
    * prometheus/querier.go:30-47). The pushed range is a superset of
    * the exact per-step windows; `coveringSteps` still does the exact
    * (t − W, t] assignment.
    */
  /** The series-identity label columns an evaluation of `sel` carries:
    * a named metric fixes event_type (so user_id is the only label); a
    * metric-less selector keeps event_type as a label, PromQL's
    * __name__.
    */
  private def seriesLabels(sel: Selector): Seq[String] =
    (if (sel.metric.isEmpty) Seq("user_id", "event_type") else Seq("user_id")) ++
      sel.extraLabels

  private def select(s: SparkSession, dir: String, sel: Selector,
                     boundsSec: Option[(Long, Long)] = None)
                    (implicit src: SampleSource): DataFrame = {
    val boundsNs = boundsSec.map { case (loSec, hiSec) =>
      ((loSec - sel.offsetSec) * 1000000000L,
        (hiSec - sel.offsetSec) * 1000000000L)
    }
    val loaded = src.load(s, dir, boundsNs)
    val base =
      if (sel.metric.isEmpty) loaded
      else loaded.filter(col("event_type") === sel.metric)
    // materialize referenced derived labels before matchers, so a
    // matcher on one is an ordinary column predicate. Registry labels
    // use their registered projection; generic payload labels read the
    // props JSON attribute of the same name, coalesced to "" — a
    // missing label is the empty string, Prometheus's absent-label
    // semantics (raw series without the payload key group under "")
    val registryNames = derivedLabels.map(_._1).toSet
    val withRegistry = derivedLabels.foldLeft(base) { case (d, (name, c)) =>
      if (sel.extraLabels.contains(name)) d.withColumn(name, c) else d
    }
    val withDerived = sel.extraLabels.filterNot(registryNames)
      .foldLeft(withRegistry) { (d, name) =>
        d.withColumn(name,
          coalesce(get_json_object(col("props"), s"$$.$name"), lit("")))
      }
    val shifted =
      if (sel.offsetSec == 0L) withDerived
      else withDerived.withColumn("ts",
        timestamp_micros(unix_micros(col("ts")) + lit(sel.offsetSec * 1000000L)))
    Scan.applyMatchers(shifted, sel.matchers)
  }


  /** Prometheus's funcRate edge extrapolation (promql/functions.go
    * extrapolatedRate), the opt-in parity mode beside the stored-value
    * default: per (series, step), the reset-corrected increase over the
    * sampled interval is extrapolated to the window edges — by the
    * actual gap when the first/last sample sits within 1.1× the average
    * sample spacing of the edge, by half the average spacing otherwise,
    * and never past the counter's zero crossing. Requires >= 2 samples
    * (single-sample windows emit nothing, as Prometheus). One window
    * pass for the reset scan + one partial-agg shuffle; the formula is
    * a pure projection.
    *
    * `windowStart`/`windowEnd` are the window bounds in epoch seconds
    * as expressions over `step` (tumbling: [step, step+W); stepped
    * lookback: (step−W, step]).
    */
  private def extrapolatedIncrease(stepped: DataFrame, rangeSec: Long,
                                   isRate: Boolean, windowStart: Column,
                                   windowEnd: Column,
                                   labels: Seq[String]): DataFrame = {
    val w = Window.partitionBy((labels :+ "step").map(col): _*)
      .orderBy(col("ts"), col("event_id"))
    val tkey = struct(unix_micros(col("ts")), col("event_id"))
    val g = stepped
      .withColumn("prev", lag("value", 1).over(w))
      .withColumn("growth",
        when(col("prev").isNull, lit(0.0))
          .when(col("value") >= col("prev"), col("value") - col("prev"))
          .otherwise(col("value")))
      .groupBy(("step" +: labels).map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        exactSum(col("growth")).as("inc"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        min_by(col("value"), tkey).as("first_v"))
      .filter(col("n") >= 2)
    val sampledInterval = (col("last_us") - col("first_us")) / 1e6
    val avgDur = sampledInterval / (col("n") - 1).cast("double")
    val threshold = avgDur * 1.1
    val durStartRaw = col("first_us") / 1e6 - windowStart
    val durEndRaw = windowEnd - col("last_us") / 1e6
    // funcRate's order (current Prometheus): clamp the raw gap by the
    // threshold FIRST, then cap at the counter's implied zero crossing
    // (which can only reduce further) — the guard keeps the divide off
    // inc == 0
    val durStartClamped =
      when(durStartRaw >= threshold, avgDur / 2).otherwise(durStartRaw)
    val durStart =
      when(col("inc") > 0.0 && col("first_v") >= 0.0,
        least(durStartClamped, sampledInterval * (col("first_v") / col("inc"))))
        .otherwise(durStartClamped)
    val durEnd = when(durEndRaw >= threshold, avgDur / 2).otherwise(durEndRaw)
    val factor0 = (sampledInterval + durStart + durEnd) / sampledInterval
    val factor = if (isRate) factor0 / lit(rangeSec.toDouble) else factor0
    g.filter(sampledInterval > 0.0)
      .select(("step" +: labels).map(col) :+ (col("inc") * factor).as("value"): _*)
  }

  /** The least-squares sums over x = ts − step per (step, labels) —
    * the shared exact-sum kernel of deriv and predict_linear: x is a
    * small integer (Σx, Σx² exact BIGINTs), Σy and Σxy exact decimals.
    */
  private def lsqSums(stepped: DataFrame, labels: Seq[String]): DataFrame =
    stepped
      .withColumn("x", unix_timestamp(col("ts")) - col("step"))
      .groupBy(("step" +: labels).map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"),
        exactSum(col("value")).as("sy"),
        exactSum(col("x").cast("double") * col("value")).as("sxy"))

  private def lsqDen: Column = {
    val n = col("n").cast("double")
    val sxd = col("sx").cast("double")
    n * col("sxx").cast("double") - sxd * sxd
  }

  private def lsqSlope: Column =
    (col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) / lsqDen

  /** Apply a range function to a step-tagged sample frame — the shared
    * tail of the tumbling, stepped, and @-pinned evaluation paths.
    *
    * rate/increase use Prometheus reset handling: between consecutive
    * in-window samples, growth is `v − prev` normally and `v` after a
    * reset (counter restarted from zero); the first sample of each
    * window is the baseline (no extrapolation — stored-value exact on
    * every engine). Documented divergence: a single-sample window emits
    * increase 0 where Prometheus emits no sample (funcRate needs >= 2
    * points). The stored-value default keeps every observed series
    * visible; [[extrapolatedIncrease]] (the Prometheus-parity mode)
    * enforces the >= 2 rule and the edge extrapolation.
    */
  private def rangeApply(stepped: DataFrame, fn: String, rangeSec: Long,
                         q: Double, winStart: Column, winEnd: Column,
                         labels: Seq[String] = Seq("user_id"),
                         q2: Double = 0.0): DataFrame =
    fn match {
      case "rate" | "increase" =>
        val w = Window.partitionBy((labels :+ "step").map(col): _*)
          .orderBy(col("ts"), col("event_id"))
        val inc = stepped
          .withColumn("prev", lag("value", 1).over(w))
          .withColumn("growth",
            when(col("prev").isNull, lit(0.0))
              .when(col("value") >= col("prev"), col("value") - col("prev"))
              .otherwise(col("value")))
          .groupBy(("step" +: labels).map(col): _*)
          .agg(exactSum(col("growth")).as("increase"))
        if (fn == "increase")
          inc.select(("step" +: labels).map(col) :+ col("increase").as("value"): _*)
        else
          inc.select(("step" +: labels).map(col) :+
            (col("increase") / lit(rangeSec.toDouble)).as("value"): _*)
      case "rate_extrapolated" | "increase_extrapolated" =>
        extrapolatedIncrease(stepped, rangeSec,
          isRate = fn == "rate_extrapolated", winStart, winEnd, labels)
      case "predict_linear" =>
        // least-squares line over x = ts − step ([[lsqSums]], shared
        // with deriv), evaluated q seconds past the window end:
        // ŷ = (Σy − slope·Σx)/n + slope·x_pred. Needs >= 2 points and
        // nonzero time spread.
        val xp = winEnd - col("step").cast("double") + lit(q)
        lsqSums(stepped, labels)
          .filter(col("n") >= 2 && lsqDen =!= 0.0)
          .select(("step" +: labels).map(col) :+
            ((col("sy") - lsqSlope * col("sx").cast("double")) / col("n").cast("double")
              + lsqSlope * xp).as("value"): _*)
      case _ =>
        rangeOver(stepped, fn, q, labels, q2)
    }

  /** Cross the spec's step grid with a step-free fixed vector — the @
    * modifier's "same value at every step" semantics. The fixed side is
    * one instant vector (series-count rows): broadcast, no shuffle.
    */
  private def replicateAt(s: SparkSession, spec: EvalSpec,
                          fixed: DataFrame): DataFrame = {
    val steps = s.range(0, spec.maxK + 1)
      .select((col("id") * spec.stepSec + spec.startSec).as("step"))
    steps.crossJoin(broadcast(fixed))
  }

  /** Exact (lo, hi] window filter on the shifted time axis, in seconds. */
  private def inWindow(loSec: Long, hiSec: Long): Column =
    unix_micros(col("ts")) > loSec * 1000000L &&
      unix_micros(col("ts")) <= hiSec * 1000000L

  /** Evaluate a parsed expression as an aligned-step range query.
    * Output: (step, [labels...], value). `src` picks the sample layout
    * (row store by default; [[ChunkSource]] evaluates over the XOR
    * chunk table) and threads implicitly through the recursion.
    */
  def eval(s: SparkSession, dir: String, expr: Expr)
          (implicit src: SampleSource = EventsSource): DataFrame = expr match {
    case sel: Selector if sel.atSec.isDefined =>
      throw new IllegalArgumentException(
        "@ modifier needs an explicit evaluation grid — use queryAt(..., EvalSpec(...))")
    case RangeFunc(_, sel, _, _, _) if sel.atSec.isDefined =>
      throw new IllegalArgumentException(
        "@ modifier needs an explicit evaluation grid — use queryAt(..., EvalSpec(...))")
    case AbsentFn(sel, _) if sel.atSec.isDefined =>
      throw new IllegalArgumentException(
        "@ modifier needs an explicit evaluation grid — use queryAt(..., EvalSpec(...))")
    case TimestampFn(sel) if sel.atSec.isDefined =>
      throw new IllegalArgumentException("@ on timestamp() is not supported")
    case _: SubqueryFunc =>
      throw new IllegalArgumentException(
        "subqueries need an explicit evaluation grid — use queryAt(..., EvalSpec(...))")

    case sel: Selector =>
      // instant-vector per step: last sample per series per step — a
      // max_by aggregation (map-side combinable), not a window sort
      select(s, dir, sel)
        .groupBy(stepHour(col("ts")) +: seriesLabels(sel).map(col): _*)
        .agg(max_by(col("value"),
          struct(unix_micros(col("ts")), col("event_id"))).as("value"))

    case RangeFunc(fn, sel, rangeSec, q, q2) =>
      // tumbling window [step, step + W)
      val stepped = select(s, dir, sel)
        .withColumn("step", stepOf(col("ts"), rangeSec))
      rangeApply(stepped, fn, rangeSec, q,
        col("step").cast("double"), (col("step") + rangeSec).cast("double"),
        seriesLabels(sel), q2)

    case AbsentFn(sel, rangeSec0) =>
      // dense step grid over the table's time span; a step is absent
      // when the selector matches no samples in its window. The grid is
      // tiny; the presence set is a distinct-aggregated anti-join.
      // absent() steps hourly; absent_over_time(sel[d]) uses its window.
      val w = if (rangeSec0 > 0) rangeSec0 else 3600L
      val ev = src.load(s, dir, None)
      val bounds = ev.agg(
        (floor(unix_timestamp(min("ts")) / w) * w).cast("long").as("lo"),
        (floor(unix_timestamp(max("ts")) / w) * w).cast("long").as("hi"))
      val steps = bounds.select(
        explode(sequence(col("lo"), col("hi"), lit(w))).as("step"))
      val present = select(s, dir, sel)
        .select(stepOf(col("ts"), w).as("step")).distinct()
      steps.join(present, Seq("step"), "left_anti").withColumn("value", lit(1.0))

    case Agg(op, by, child, k, without, q, vlabel) =>
      aggOver(eval(s, dir, child), op, by, k, without, q, vlabel)

    case MathFn(fn, child, arg, arg2) =>
      mathOver(eval(s, dir, child), fn, arg, arg2)

    case lr: LabelReplace => labelOver(eval(s, dir, lr.child), lr)
    case lj: LabelJoin => labelOver(eval(s, dir, lj.child), lj)
    case SortFn(ch, desc) => sortOver(eval(s, dir, ch), desc)
    case SortByLabel(ch, ls, desc) =>
      sortByLabelOver(eval(s, dir, ch), ls, desc)

    case TimestampFn(sel) =>
      // the instant sample's timestamp as the value (epoch sec, double)
      select(s, dir, sel)
        .groupBy(stepHour(col("ts")) +: seriesLabels(sel).map(col): _*)
        .agg((max(unix_micros(col("ts"))).cast("double") / 1e6).as("value"))

    case Scalar(_) =>
      throw new IllegalArgumentException(
        "a bare scalar is not a range query; combine it with a vector")

    case ScalarOf(ch) =>
      scalarOf(eval(s, dir, ch))
    case TimeFn =>
      throw new IllegalArgumentException(
        "bare time()/vector() need an explicit evaluation grid — " +
          "use queryAt(..., EvalSpec(...)) or combine with a vector")
    case _: VectorOf =>
      throw new IllegalArgumentException(
        "bare time()/vector() need an explicit evaluation grid — " +
          "use queryAt(..., EvalSpec(...)) or combine with a vector")

    // vector-scalar: no join, a projected expression (or a filter for
    // comparisons without `bool`). time() is the per-step scalar
    // col(step), so `v op time()` is also a pure projection.
    case BinOp(op, _, lhs, Scalar(v), _, _, b, _, _) if !setOps(op) =>
      if (cmpOps.contains(op))
        scalarCompare(eval(s, dir, lhs), op, lit(v), scalarRight = true, b)
      else scalarArith(eval(s, dir, lhs), op, lit(v), scalarRight = true)
    case BinOp(op, _, Scalar(v), rhs, _, _, b, _, _) if !setOps(op) =>
      if (cmpOps.contains(op))
        scalarCompare(eval(s, dir, rhs), op, lit(v), scalarRight = false, b)
      else scalarArith(eval(s, dir, rhs), op, lit(v), scalarRight = false)
    case BinOp(op, _, lhs, TimeFn, _, _, b, _, _) if !setOps(op) =>
      val t = col("step").cast("double")
      if (cmpOps.contains(op))
        scalarCompare(eval(s, dir, lhs), op, t, scalarRight = true, b)
      else scalarArith(eval(s, dir, lhs), op, t, scalarRight = true)
    case BinOp(op, _, TimeFn, rhs, _, _, b, _, _) if !setOps(op) =>
      val t = col("step").cast("double")
      if (cmpOps.contains(op))
        scalarCompare(eval(s, dir, rhs), op, t, scalarRight = false, b)
      else scalarArith(eval(s, dir, rhs), op, t, scalarRight = false)
    case BinOp(op, _, lhs, ScalarOf(ch), _, _, b, _, _) if !setOps(op) =>
      perStepScalarOp(eval(s, dir, lhs), scalarOf(eval(s, dir, ch)), op,
        scalarRight = true, boolMod = b)
    case BinOp(op, _, ScalarOf(ch), rhs, _, _, b, _, _) if !setOps(op) =>
      perStepScalarOp(eval(s, dir, rhs), scalarOf(eval(s, dir, ch)), op,
        scalarRight = false, boolMod = b)

    case BinOp(op, on, lhs, rhs, ignoring, groupLeft, b, gr, carry) =>
      // tumbling evaluation derives each side's step from its own range
      // window; joining 1h steps against 30m steps would silently drop
      // and misalign steps. PromQL evaluates both sides at the SAME
      // timestamps — that is queryAt/EvalSpec; here it's an error.
      val grains = stepGrains(lhs) ++ stepGrains(rhs)
      require(grains.size <= 1,
        s"mixed range windows ${grains.toSeq.sorted.mkString("/")}s in one " +
          "binary op: tumbling steps would misalign — evaluate with " +
          "queryAt(..., EvalSpec(...)) instead")
      val (le, re) = (eval(s, dir, lhs), eval(s, dir, rhs))
      if (setOps(op)) setOver(le, re, op, on, ignoring)
      else if (cmpOps.contains(op)) cmpOver(le, re, op, on, ignoring, b)
      else binOver(le, re, op, on, ignoring, groupLeft, gr, carry)
  }

  /** Step granularities (sec) a tumbling evaluation of `e` produces:
    * each range window is its own step; instant selectors step hourly.
    */
  private def stepGrains(e: Expr): Set[Long] = e match {
    case _: Selector => Set(3600L)
    case AbsentFn(_, w) => Set(if (w > 0) w else 3600L)
    case _: TimestampFn => Set(3600L)
    case RangeFunc(_, _, rangeSec, _, _) => Set(rangeSec)
    case SubqueryFunc(_, _, rangeSec, _, _) => Set(rangeSec)
    case TimeFn => Set.empty
    case ScalarOf(c) => stepGrains(c)
    case VectorOf(c) => stepGrains(c)
    case LabelReplace(c, _, _, _, _) => stepGrains(c)
    case LabelJoin(c, _, _, _) => stepGrains(c)
    case SortFn(c, _) => stepGrains(c)
    case SortByLabel(c, _, _) => stepGrains(c)
    case Agg(_, _, child, _, _, _, _) => stepGrains(child)
    case MathFn(_, child, _, _) => stepGrains(child)
    case BinOp(_, _, l, r, _, _, _, _, _) => stepGrains(l) ++ stepGrains(r)
    case Scalar(_) => Set.empty
  }

  /** Per-(step, series) range-window aggregation shared by the tumbling
    * and stepped evaluators: `stepped` carries raw samples already
    * tagged with their serving `step`. Every verb is either a pure
    * aggregation (map-side combinable) or a window partitioned by
    * (series, step) — cardinality ≫ cores. quantile_over_time is the
    * same two-phase histogram shape as the cross-series quantile.
    */
  private def rangeOver(stepped: DataFrame, fn: String, q: Double,
                        labels: Seq[String] = Seq("user_id"),
                        q2: Double = 0.0): DataFrame = {
    val tkey = struct(unix_micros(col("ts")), col("event_id"))
    val keyCols = ("step" +: labels).map(col)
    def grouped = stepped.groupBy(keyCols: _*)
    fn match {
      case "count_over_time" => grouped.agg(count(lit(1)).cast("double").as("value"))
      case "sum_over_time"   => grouped.agg(exactSum(col("value")).as("value"))
      case "avg_over_time"   => grouped.agg((exactSum(col("value")) / count(lit(1))).as("value"))
      case "min_over_time"   => grouped.agg(min("value").as("value"))
      case "max_over_time"   => grouped.agg(max("value").as("value"))
      case "last_over_time"  => grouped.agg(max_by(col("value"), tkey).as("value"))
      case "first_over_time" => grouped.agg(min_by(col("value"), tkey).as("value"))
      case "ts_of_last_over_time" =>
        // the 3.x experimental ts_of_* family emits the sample's
        // TIMESTAMP (epoch seconds, float) as the value; samples at
        // the same instant share the instant, so plain max suffices
        grouped.agg((max(unix_micros(col("ts"))) / lit(1e6)).as("value"))
      case "ts_of_max_over_time" | "ts_of_min_over_time" =>
        // Prometheus iterates in time order with >= (resp. <=), so
        // among equal extrema the LATEST sample's timestamp wins —
        // lexicographic (value, ts, event_id) arg-extremum, negating
        // the time key for the min form to keep last-wins ties. The
        // full struct is unique per sample (event_id), so the
        // arg-extremum is deterministic.
        val us = unix_micros(col("ts"))
        val pick =
          if (fn == "ts_of_max_over_time")
            max_by(us, struct(col("value"), us, col("event_id")))
          else
            min_by(us, struct(col("value"), negate(us), negate(col("event_id"))))
        grouped.agg((pick / lit(1e6)).as("value"))
      case "present_over_time" => grouped.agg(max(lit(1.0)).as("value"))
      case "histogram_count" => grouped.agg(count(lit(1)).cast("double").as("value"))
      case "histogram_sum"   => grouped.agg(exactSum(col("value")).as("value"))
      case "histogram_avg"   => grouped.agg((exactSum(col("value")) / count(lit(1))).as("value"))
      case "histogram_stddev" | "histogram_stdvar" =>
        // the native-histogram estimator pair over the schema-0
        // histogram the window's samples implicitly form (bucket k =
        // (2^(k−1), 2^k], mass at the arithmetic midpoint 3·2^(k−2)) —
        // the exact decimal chain of TimeSeries.nhistStddev, keyed per
        // (step, series) instead of per metric. Scale: bucket count is
        // schema-bounded (≤16 per histogram); two partial-agg passes
        // plus a co-partitioned join, no windows.
        val b = stepped.withColumn("k", TimeSeries.nhK(col("value")))
          .groupBy(keyCols :+ col("k"): _*).agg(count(lit(1)).as("cnt"))
        val stats = stepped.groupBy(keyCols: _*)
          .agg(count(lit(1)).as("n"),
            round(exactSum(col("value")) / count(lit(1)), 12).as("hist_avg"))
        val mid = lit(3.0) * pow(lit(2.0), col("k").cast("double") - lit(2.0))
        val devD = mid.cast("decimal(16,12)") - col("hist_avg").cast("decimal(16,12)")
        val agg = b.join(stats, "step" +: labels)
          .withColumn("term",
            (devD * devD).cast("decimal(20,12)") * col("cnt").cast("decimal(12,0)"))
          .groupBy(keyCols: _*)
          .agg(sum("term").cast("decimal(30,4)").as("t"), max("n").as("n"))
        val stdvar = col("t").cast("double") / col("n").cast("double")
        agg.select(keyCols :+
          (if (fn == "histogram_stddev") sqrt(stdvar) else stdvar).as("value"): _*)
      case "histogram_quantile" =>
        // native form: interpolate between the exact power-of-two
        // bucket bounds at rank ceil(round(φ·n, 9)) — the TimeSeries
        // .nhistQuantile law keyed per (step, series); the cumulative
        // window is ≤16 rows per histogram BY SCHEMA, so the rank
        // pass is bounded at any corpus size.
        val b = stepped.withColumn("k", TimeSeries.nhK(col("value")))
          .groupBy(keyCols :+ col("k"): _*).agg(count(lit(1)).as("cnt"))
        val byH = Window.partitionBy(keyCols: _*)
        val wCum = byH.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val lower = pow(lit(2.0), col("k").cast("double") - lit(1.0))
        val upper = pow(lit(2.0), col("k").cast("double"))
        b.withColumn("cum", sum("cnt").over(wCum))
          .withColumn("n", sum("cnt").over(byH))
          .withColumn("rnk", graft.functions.ExactNum.ceilPos(col("n"), q))
          .filter(col("cum") >= col("rnk") &&
            col("cum") - col("cnt") < col("rnk"))
          .select(keyCols :+
            round(lower + (upper - lower) *
              ((col("rnk") - col("cum") + col("cnt")).cast("double") /
                col("cnt").cast("double")), 12).as("value"): _*)
      case "histogram_fraction" =>
        // fraction of window mass inside (q, q2] — per-bucket overlap
        // weight over exact power-of-two bounds (TimeSeries
        // .nhistFraction law: round-12 decimal terms, one shared final
        // division). No windows: projection + two partial aggs.
        val lower = pow(lit(2.0), col("k").cast("double") - lit(1.0))
        val upper = pow(lit(2.0), col("k").cast("double"))
        val ov = greatest(lit(0.0), least(lit(q2), upper) - greatest(lit(q), lower))
        val w = least(lit(1.0), ov / (upper - lower))
        stepped.withColumn("k", TimeSeries.nhK(col("value")))
          .groupBy(keyCols :+ col("k"): _*).agg(count(lit(1)).as("cnt"))
          .withColumn("term",
            round(col("cnt").cast("double") * w, 12).cast("decimal(28,12)"))
          .groupBy(keyCols: _*).agg(sum("cnt").as("n"), sum("term").as("t"))
          .select(keyCols :+
            round(col("t").cast("double") / col("n").cast("double"), 12).as("value"): _*)
      case "delta" =>
        // newest − oldest stored value in the window (PromQL delta,
        // sans extrapolation) — max_by/min_by, no window sort
        grouped.agg((max_by(col("value"), tkey) - min_by(col("value"), tkey)).as("value"))
      case "stddev_over_time" | "stdvar_over_time" =>
        val variance =
          (exactSumSq(col("value"))
            - exactSum(col("value")) * exactSum(col("value")) / count(lit(1)))
            ./(count(lit(1)))
        // negatives clamp to 0; null (decimal-sum overflow) propagates
        val guarded = when(variance < 0.0, lit(0.0)).otherwise(variance)
        grouped.agg((if (fn == "stddev_over_time") sqrt(guarded) else guarded).as("value"))
      case "changes" | "resets" =>
        val w = Window.partitionBy((labels :+ "step").map(col): _*)
          .orderBy(col("ts"), col("event_id"))
        val cond =
          if (fn == "changes") col("prev").isNotNull && col("prev") =!= col("value")
          else col("prev").isNotNull && col("value") < col("prev")
        stepped.withColumn("prev", lag("value", 1).over(w))
          .groupBy(keyCols: _*)
          .agg(sum(when(cond, 1L).otherwise(0L)).cast("double").as("value"))
      case "deriv" =>
        // least-squares slope (value/sec) via [[lsqSums]]; Prometheus
        // requires >= 2 points, zero time spread is undefined.
        lsqSums(stepped, labels)
          .filter(col("n") >= 2 && lsqDen =!= 0.0)
          .select(keyCols :+ lsqSlope.as("value"): _*)
      case "irate" | "idelta" =>
        // instantaneous variants: last two samples of the window. The
        // rank window partitions per (series, step) — cardinality ≫
        // cores; only ranks 1-2 survive into the pivot aggregation.
        val w = Window.partitionBy((labels :+ "step").map(col): _*)
          .orderBy(col("ts").desc, col("event_id").desc)
        val g = stepped.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .groupBy(keyCols: _*)
          .agg(
            max(when(col("rn") === 1, col("value"))).as("v1"),
            max(when(col("rn") === 2, col("value"))).as("v2"),
            max(when(col("rn") === 1, unix_micros(col("ts")))).as("t1"),
            max(when(col("rn") === 2, unix_micros(col("ts")))).as("t2"))
          .filter(col("v2").isNotNull)
        // Prometheus instantValue drops zero-elapsed pairs for BOTH
        // irate and idelta (sampledInterval == 0 → no output)
        val paced = g.filter(col("t1") =!= col("t2"))
        if (fn == "idelta")
          paced.select(keyCols :+ (col("v1") - col("v2")).as("value"): _*)
        else
          // counter-reset aware, like rate
          paced.select(keyCols :+
            (when(col("v1") >= col("v2"), col("v1") - col("v2"))
              .otherwise(col("v1"))
              / ((col("t1") - col("t2")) / 1e6)).as("value"): _*)
      case "holt_winters" =>
        // double exponential smoothing is inherently sequential per
        // window: collect the (window-bounded) samples, sort, fold with
        // the aggregate HOF. Interpreted (CodegenFallback), but the
        // per-group array is window-sized and the fold is the exact
        // IEEE sequence Prometheus runs (promql/functions.go
        // funcHoltWinters; sf = q, tf = q2). Needs >= 2 samples.
        val sf = q; val tf = q2
        val arr = grouped.agg(
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("us"), col("event_id").as("eid"),
            col("value").as("v")))).as("xs"))
          .filter(size(col("xs")) >= 2)
        val xs = col("xs")
        val init = struct(
          lit(0.0).as("s0"),
          element_at(xs, 1).getField("v").as("s1"),
          (element_at(xs, 2).getField("v") - element_at(xs, 1).getField("v")).as("b"),
          lit(0).as("i"))
        val smoothed = aggregate(
          expr("slice(xs, 2, size(xs) - 1)"),
          init,
          (acc, e) => {
            val bNew = when(acc.getField("i") === 0, acc.getField("b"))
              .otherwise(lit(tf) * (acc.getField("s1") - acc.getField("s0"))
                + lit(1.0 - tf) * acc.getField("b"))
            val y = lit(1.0 - sf) * (acc.getField("s1") + bNew)
            struct(
              acc.getField("s1").as("s0"),
              (lit(sf) * e.getField("v") + y).as("s1"),
              bNew.as("b"),
              (acc.getField("i") + 1).as("i"))
          },
          acc => acc.getField("s1"))
        arr.select(keyCols :+ smoothed.as("value"): _*)
      case "quantile_over_time" =>
        val keys = "step" +: labels
        val hist = stepped.groupBy((keys :+ "value").map(col): _*)
          .agg(count(lit(1)).as("cnt"))
        val byKey = Window.partitionBy(keys.map(col): _*)
        val wCum = byKey.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pos = quantilePos(col("n"), q)
        hist
          .withColumn("cum", sum("cnt").over(wCum))
          .withColumn("n", sum("cnt").over(byKey))
          .filter(col("cum") >= pos && col("cum") - col("cnt") < pos)
          .select(keys.map(col) :+ col("value"): _*)
      case "mad_over_time" =>
        // Prometheus 3.x experimental: median absolute deviation about
        // the median. Both medians are the house DISCRETE quantile
        // (stored value at ceil(0.5·n) — the quantile_over_time
        // contract, documented divergence from Prometheus'
        // interpolation), each computed as a VALUE-HISTOGRAM cumulative
        // pick (reducer state = |distinct values| per key, never
        // |samples|), joined back per key for the deviation pass.
        val keys = "step" +: labels
        def medianOf(src: DataFrame, v: String, out: String): DataFrame = {
          val hist = src.groupBy((keys :+ v).map(col): _*)
            .agg(count(lit(1)).as("cnt"))
          val byKey = Window.partitionBy(keys.map(col): _*)
          val wCum = byKey.orderBy(v)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
          val pos = quantilePos(col("n"), 0.5)
          hist
            .withColumn("cum", sum("cnt").over(wCum))
            .withColumn("n", sum("cnt").over(byKey))
            .filter(col("cum") >= pos && col("cum") - col("cnt") < pos)
            .select(keys.map(col) :+ col(v).as(out): _*)
        }
        val med = medianOf(stepped, "value", "med")
        val dev = stepped.join(med, keys)
          .select(keys.map(col) :+ abs(col("value") - col("med")).as("dev"): _*)
        medianOf(dev, "dev", "value")
      case other => throw new IllegalArgumentException(s"unknown range function '$other'")
    }
  }

  private def quantilePos(n: Column, q: Double): Column =
    graft.functions.ExactNum.quantilePos(n, q)

  /** Cross-series aggregation over an evaluated (step, labels..., value)
    * frame — shared by the tumbling and stepped evaluators.
    */
  private def aggOver(in: DataFrame, op: String, by: Seq[String], k: Int,
                      without: Boolean, q: Double = 0.0,
                      vlabel: String = ""): DataFrame = {
    val labelCols = in.columns.filter(c => c != "step" && c != "value").toSeq
    val groupLabels = if (without) labelCols.diff(by) else by
    op match {
      case "count_values" =>
        // the sample value becomes a label (its string form); the new
        // value is how many series carried it — a plain partial-agg
        // groupBy on (step, group, value)
        require(vlabel.nonEmpty && vlabel != "step" && vlabel != "value" &&
          !groupLabels.contains(vlabel),
          s"count_values label '$vlabel' collides with a reserved or retained column")
        // Prometheus formats integral values without the trailing .0
        val vstr = when(
          !isnan(col("value")) && col("value") === floor(col("value")) &&
            abs(col("value")) < 9.0e18,
          col("value").cast("long").cast("string"))
          .otherwise(col("value").cast("string"))
        val keys = (col("step") +: groupLabels.map(col)) :+ vstr.as(vlabel)
        in.groupBy(keys: _*).agg(count(lit(1)).cast("double").as("value"))
      case "topk" | "bottomk" =>
        // ranked through the TopKPerKey operator (plans/TopKPerKey):
        // per-partition bounded heaps → shuffle of ≤ partitions×steps×k
        // candidates → final merge, instead of a per-step window that
        // funnels every series of a step onto one reducer and sorts it.
        // `topk by(...)` ranks within each (step, group) key.
        val ord = if (op == "topk") col("value").desc else col("value").asc
        val keys = "step" +: groupLabels
        graft.plans.TopK.perKey(in, keys.map(col),
          ord +: labelCols.map(col), k).drop("rnk")
      case "limitk" =>
        // deterministic sampling aggregator (Prometheus 3.x limitk,
        // made stable): the k series with the smallest md5 of their
        // SALTED label tuple, per (step, group) — ranked through the
        // same TopKPerKey bounded-heap operator as topk (no per-step
        // global window). The hash ignores step and value, so a kept
        // series is kept at every step it exists in.
        val hcol = md5(concat_ws("\u0001",
          lit("lk:") +: labelCols.map(c => col(c).cast("string")): _*))
        val keys = "step" +: groupLabels
        graft.plans.TopK.perKey(in.withColumn("lk_h", hcol), keys.map(col),
          col("lk_h").asc +: labelCols.map(col), k)
          .drop("rnk").drop("lk_h")
      case "limit_ratio" =>
        // keep series whose 48-bit label-hash uniform u ∈ [0,1) falls
        // under r (negative r keeps the complement u ≥ 1+r, so r and
        // r−1 partition the vector exactly). A PURE FILTER — zero
        // shuffles, zero windows at any scale; u is a 48-bit integer
        // over 2⁴⁸ (exact in a double, the weighted-sample contract).
        val u = conv(substring(md5(concat_ws("\u0001",
          lit("lr:") +: labelCols.map(c => col(c).cast("string")): _*)),
          1, 12), 16, 10).cast("double") / lit(281474976710656.0)
        in.filter(if (q >= 0) u < lit(q) else u >= lit(1.0 + q))
      case "quantile" =>
        // discrete cross-series quantile per (step, group): the stored
        // value at position ceil(q*n) in value order — exact across
        // engines, consistent with q_histogram_quantile's choice (no
        // Prometheus-style interpolation drift). Two-phase for scale:
        // phase 1 is a map-side-combinable (keys, value) histogram, so
        // the shuffle keys on (step, group, value) — no hot reducers;
        // phase 2 runs the cumulative pick over the histogram only
        // (distinct values), never the full series set. The value at
        // position ceil(q*n) is order-unique, so no label tiebreak is
        // needed: equal values collapse into one histogram row.
        val keys = "step" +: groupLabels
        val hist = in.groupBy((keys :+ "value").map(col): _*)
          .agg(count(lit(1)).as("cnt"))
        val byKey = Window.partitionBy(keys.map(col): _*)
        val wCum = byKey.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pos = quantilePos(col("n"), q)
        hist
          .withColumn("cum", sum("cnt").over(wCum))
          .withColumn("n", sum("cnt").over(byKey))
          .filter(col("cum") >= pos && col("cum") - col("cnt") < pos)
          .select(keys.map(col) :+ col("value"): _*)
      case _ =>
        val keys = col("step") +: groupLabels.map(col)
        val g = in.groupBy(keys: _*)
        op match {
          case "sum"   => g.agg(exactSum(col("value")).as("value"))
          case "avg"   => g.agg((exactSum(col("value")) / count(lit(1))).as("value"))
          case "min"   => g.agg(min("value").as("value"))
          case "max"   => g.agg(max("value").as("value"))
          case "count" => g.agg(count(lit(1)).cast("double").as("value"))
          case "group" => g.agg(max(lit(1.0)).as("value"))
          case "stddev" | "stdvar" =>
            // population variance from exact decimal sums, as the
            // stddev_over_time verb: order-independent on any cluster.
            // The squared term needs the wider scale: at DECIMAL(30,6)
            // x² of values below ~1e-3 truncates to 0.
            val variance =
              (exactSumSq(col("value"))
                - exactSum(col("value")) * exactSum(col("value")) / count(lit(1)))
                ./(count(lit(1)))
            // clamp negatives to 0 but PROPAGATE null (a decimal-sum
            // overflow must not read as stddev 0)
            val guarded = when(variance < 0.0, lit(0.0)).otherwise(variance)
            g.agg((if (op == "stddev") sqrt(guarded) else guarded).as("value"))
        }
    }
  }

  /** The (step, matching-label) join keys for a vector-matching pair. */
  private def matchKeys(l: DataFrame, r: DataFrame, on: Seq[String],
                        ignoring: Seq[String]): Seq[String] = {
    val lLabels = l.columns.filter(c => c != "step" && c != "value").toSeq
    val rLabels = r.columns.filter(c => c != "step" && c != "value").toSeq
    "step" +: (if (on.nonEmpty) on else lLabels.intersect(rLabels).diff(ignoring))
  }

  /** Vector-vector comparison. Without `bool` it FILTERS the lhs: the
    * output keeps every lhs label and the lhs value, exactly the rows
    * whose matching rhs sample satisfies the comparison (PromQL filter
    * semantics). With `bool` it behaves like an arithmetic op emitting
    * 1.0/0.0 over the match keys. Equi hash join on (step, labels).
    */
  private def cmpOver(l: DataFrame, r: DataFrame, op: String, on: Seq[String],
                      ignoring: Seq[String], boolMod: Boolean): DataFrame = {
    val keys = matchKeys(l, r, on, ignoring)
    val cond = cmpCond(col("v_l"), col("v_r"), op)
    val joined = l.withColumnRenamed("value", "v_l")
      .join(r.withColumnRenamed("value", "v_r").select((keys :+ "v_r").map(col): _*),
        keys)
    if (boolMod)
      joined.select(keys.map(col) :+ when(cond, 1.0).otherwise(0.0).as("value"): _*)
    else {
      val outCols = l.columns.toSeq // full lhs schema, original value
      joined.filter(cond)
        .withColumnRenamed("v_l", "value")
        .select(outCols.map(col): _*)
    }
  }

  private def cmpCond(x: Column, y: Column, op: String): Column = op match {
    case "==" => x === y
    case "!=" => x =!= y
    case ">"  => x > y
    case "<"  => x < y
    case ">=" => x >= y
    case "<=" => x <= y
  }

  /** PromQL set operators between two evaluated frames. `and` keeps lhs
    * rows whose (step, match labels) exist in rhs (left-semi join, no
    * row multiplication); `unless` is the anti join; `or` is lhs plus
    * the rhs rows with no lhs match — rhs must carry the same schema.
    */
  private def setOver(l: DataFrame, r: DataFrame, op: String, on: Seq[String],
                      ignoring: Seq[String]): DataFrame = {
    val keys = matchKeys(l, r, on, ignoring)
    op match {
      case "and" =>
        l.join(r.select(keys.map(col): _*), keys, "left_semi")
      case "unless" =>
        l.join(r.select(keys.map(col): _*), keys, "left_anti")
      case "or" =>
        require(l.columns.toSeq == r.columns.toSeq,
          s"or requires equal schemas, got ${l.columns.toSeq} vs ${r.columns.toSeq}")
        l.union(r.join(l.select(keys.map(col): _*), keys, "left_anti"))
    }
  }

  /** Vector-scalar comparison: a filter on the vector (no join), or 1/0
    * values with `bool`. scalarRight=false flips the operand order.
    */
  private def scalarCompare(df: DataFrame, op: String, v: Column,
                            scalarRight: Boolean, boolMod: Boolean): DataFrame = {
    val cond =
      if (scalarRight) cmpCond(col("value"), v, op)
      else cmpCond(v, col("value"), op)
    if (boolMod) df.withColumn("value", when(cond, 1.0).otherwise(0.0))
    else df.filter(cond)
  }

  /** A vector as a per-step SCALAR (PromQL scalar()): the step's single
    * series value, NaN when the step has 0 or > 1 series.
    */
  private def scalarOf(in: DataFrame): DataFrame =
    in.groupBy("step").agg(
      when(count(lit(1)) === 1, max("value"))
        .otherwise(lit(Double.NaN)).as("value"))

  /** `vector op scalar(expr)`: join the per-step scalar frame on step
    * (broadcast — one row per step) and project, keeping the vector's
    * full schema. scalarRight=false flips the operand order.
    */
  private def perStepScalarOp(l: DataFrame, sc: DataFrame, op: String,
                              scalarRight: Boolean, boolMod: Boolean): DataFrame = {
    val joined = l.join(broadcast(sc.withColumnRenamed("value", "v_s")), "step")
    val x = col("value")
    val v = col("v_s")
    if (cmpOps.contains(op)) {
      val cond = if (scalarRight) cmpCond(x, v, op) else cmpCond(v, x, op)
      val out =
        if (boolMod) joined.withColumn("value", when(cond, 1.0).otherwise(0.0))
        else joined.filter(cond)
      out.drop("v_s")
    } else {
      val divLike = op == "/" || op == "%"
      val guarded =
        if (divLike && scalarRight) joined.filter(v =!= 0.0)
        else if (divLike && !scalarRight) joined.filter(x =!= 0.0)
        else joined
      val res = (op, scalarRight) match {
        case ("/", true)  => x / v
        case ("/", false) => v / x
        case ("*", _)     => x * v
        case ("+", _)     => x + v
        case ("-", true)  => x - v
        case ("-", false) => v - x
        case ("%", true)  => x % v
        case ("%", false) => v % x
        case ("^", true)  => pow(x, v)
        case ("^", false) => pow(v, x)
        case ("atan2", true)  => atan2(x, v)
        case ("atan2", false) => atan2(v, x)
        case (o, _) => throw new IllegalArgumentException(s"unknown op '$o'")
      }
      guarded.withColumn("value", res).drop("v_s")
    }
  }

  /** Vector-vector binary op between two evaluated frames — shared by
    * the tumbling and stepped evaluators.
    *
    * Matching cardinality: plain matching keeps only the match keys
    * (one-to-one); `group_left`/`group_right` keep every label of the
    * many side (many-to-one / one-to-many). Prometheus ERRORS on
    * many-to-one matches without a group modifier; graft instead joins
    * on the keys — a duplicate-keyed side simply multiplies rows, which
    * the caller sees in the output cardinality. Checking would cost a
    * count-per-key pass over both sides on every binary op; documented
    * divergence instead.
    */
  private def binOver(l: DataFrame, r: DataFrame, op: String, on: Seq[String],
                      ignoring: Seq[String], groupLeft: Boolean,
                      groupRight: Boolean = false,
                      carry: Seq[String] = Seq.empty): DataFrame = {
    val lLabels = l.columns.filter(c => c != "step" && c != "value").toSeq
    val rLabels = r.columns.filter(c => c != "step" && c != "value").toSeq
    val matchLabels =
      if (on.nonEmpty) on
      else lLabels.intersect(rLabels).diff(ignoring)
    val keys = "step" +: matchLabels
    // group_left(l1,...): labels copied from the ONE side into the
    // result (they override a same-named label on the many side, as
    // PromQL); carrying a match key is a no-op
    val carried = carry.diff(keys)
    val outLabels =
      if (groupLeft) ("step" +: (lLabels.diff(carried) ++ carried)).distinct
      else if (groupRight) ("step" +: (rLabels.diff(carried) ++ carried)).distinct
      else keys
    val lKeep =
      if (groupLeft) ("step" +: lLabels.diff(carried)).distinct
      else if (groupRight) keys ++ carried
      else keys
    val rKeep =
      if (groupRight) ("step" +: rLabels.diff(carried)).distinct
      else if (groupLeft) keys ++ carried
      else keys
    val joined = l.withColumnRenamed("value", "v_l")
      .select((lKeep :+ "v_l").distinct.map(col): _*)
      .join(r.withColumnRenamed("value", "v_r")
        .select((rKeep :+ "v_r").distinct.map(col): _*),
        keys)
    // drop zero divisors for / and % (Spark's non-ANSI x/0 is null —
    // a null value row silently vanishes from downstream aggregates)
    val guarded =
      if (op == "/" || op == "%") joined.filter(col("v_r") =!= 0.0) else joined
    val v = op match {
      case "/" => col("v_l") / col("v_r")
      case "*" => col("v_l") * col("v_r")
      case "+" => col("v_l") + col("v_r")
      case "-" => col("v_l") - col("v_r")
      // double % follows the dividend's sign in Spark, DuckDB (fmod)
      // and Go's math.Mod alike — cross-engine exact
      case "%" => col("v_l") % col("v_r")
      case "^" => pow(col("v_l"), col("v_r"))
      case "atan2" => atan2(col("v_l"), col("v_r"))
    }
    guarded.select(outLabels.map(col) :+ v.as("value"): _*)
  }

  // ---- stepped range-query evaluator ----------------------------------

  /** A Prometheus range query's evaluation frame: aligned steps
    * `start, start+step, …, end` (epoch seconds), instant selectors
    * looking back `lookbackSec` (the 5m default) — the API the
    * reference exercises through thanos promql-engine
    * (prometheus/promql_test.go: NewRangeQuery(start, end, step)).
    */
  case class EvalSpec(startSec: Long, endSec: Long, stepSec: Long,
                      lookbackSec: Long = 300L) {
    require(stepSec > 0 && endSec >= startSec, "empty evaluation range")
    def maxK: Long = (endSec - startSec) / stepSec
  }

  /** Explode each row to the aligned steps whose window
    * `(t − windowSec, t]` contains its time `us` (epoch µs: a sample's
    * `ts` by default, or a subquery's inner step). The explode factor
    * is bounded by `windowSec / stepSec` (overlapping windows are
    * inherently duplicating); each output row carries its serving
    * `step`. Deltas stay < 2⁵³ so the double division is exact enough
    * for the integer bounds. The one raw covering law: the stepped
    * evaluator, its subqueries and the rule-group pass explode here.
    */
  private[graft] def coveringSteps(df: DataFrame, spec: EvalSpec, windowSec: Long,
                                   us: Column = unix_micros(col("ts"))): DataFrame = {
    val aUs = lit(spec.startSec * 1000000L)
    val sUs = spec.stepSec * 1000000L
    val wUs = windowSec * 1000000L
    val delta = (us - aUs).cast("double")
    // t = A + k*S serves u iff t >= u and t - W < u:
    //   kMin = ceil((u - A) / S), kMax = ceil((u - A + W) / S) - 1
    val kMin = greatest(lit(0L), ceil(delta / sUs).cast("long"))
    val kMax = least(lit(spec.maxK),
      (ceil((delta + wUs) / sUs) - 1).cast("long"))
    // reserved internal names: a bare "k" would collide with (and
    // silently replace) the derived payload label k on a
    // `click{k=...}` stepped query — a real stepped-evaluator bug
    // found writing the round-13 rollup-serving spec
    df.withColumn("__cs_kmin", kMin).withColumn("__cs_kmax", kMax)
      .filter(col("__cs_kmin") <= col("__cs_kmax"))
      .withColumn("__cs_k", explode(sequence(col("__cs_kmin"), col("__cs_kmax"))))
      .withColumn("step", col("__cs_k") * spec.stepSec + spec.startSec)
      .drop("__cs_kmin", "__cs_kmax", "__cs_k")
  }

  /** The stepped MV-serving hook (plans/SteppedRollup.scala): only the
    * row-store source is eligible — the chunk path's whole purpose is
    * exercising the XOR codec — and every other soundness gate
    * (opt-in flag, verb, alignment, matchers, staleness,
    * boundary-cleanliness) lives inside SteppedRollup.serve.
    */
  private def steppedRollup(s: SparkSession, dir: String, fn: String,
                            sel: Selector, windowSec: Long, spec: EvalSpec,
                            rawTail: EvalSpec => DataFrame)
                           (implicit src: SampleSource): Option[DataFrame] =
    if (src != EventsSource) None
    else graft.plans.SteppedRollup.serve(
      s, dir, fn, sel, windowSec, spec, seriesLabels(sel), rawTail)

  /** Evaluate at the spec's aligned steps — true PromQL range-query
    * semantics (per-step lookback / overlapping range windows) instead
    * of the default tumbling evaluation.
    */
  def evalAt(s: SparkSession, dir: String, expr: Expr, spec: EvalSpec)
            (implicit src: SampleSource = EventsSource): DataFrame = {
    // the evaluation can only ever touch shifted timestamps in
    // [start − window, end] — push that range (per selector, window =
    // lookback or the range-function window) down to the parquet scan
    def bounds(windowSec: Long): Option[(Long, Long)] =
      Some((spec.startSec - windowSec, spec.endSec))
    expr match {
      // @ modifier: the selector evaluates at the FIXED time, and the
      // resulting vector is replicated across the spec's step grid
      case sel: Selector if sel.atSec.isDefined =>
        val t = sel.atSec.get
        val fixed = select(s, dir, sel, Some((t - spec.lookbackSec, t)))
          .filter(inWindow(t - spec.lookbackSec, t))
          .groupBy(seriesLabels(sel).map(col): _*)
          .agg(max_by(col("value"),
            struct(unix_micros(col("ts")), col("event_id"))).as("value"))
        replicateAt(s, spec, fixed)

      case RangeFunc(fn, sel, rangeSec, q, q2) if sel.atSec.isDefined =>
        val t = sel.atSec.get
        val pinned = select(s, dir, sel, Some((t - rangeSec, t)))
          .filter(inWindow(t - rangeSec, t))
          .withColumn("step", lit(t))
        val res = rangeApply(pinned, fn, rangeSec, q,
          (col("step") - rangeSec).cast("double"), col("step").cast("double"),
          seriesLabels(sel), q2)
        replicateAt(s, spec, res.drop("step"))

      case sel: Selector =>
        // instant vector at step t: most recent sample in (t−lookback, t]
        // — exactly last_over_time over the lookback window, which an
        // opted-in session serves from the downsample rollup when the
        // grid is 300 s-aligned (plans/SteppedRollup.scala). The raw
        // evaluation is parameterized by spec so the hybrid fresh-tail
        // can re-run it over only the open tail's narrowed range
        def rawSel(sp: EvalSpec): DataFrame =
          coveringSteps(select(s, dir, sel,
              Some((sp.startSec - sp.lookbackSec, sp.endSec))),
              sp, sp.lookbackSec)
            .groupBy(("step" +: seriesLabels(sel)).map(col): _*)
            .agg(max_by(col("value"),
              struct(unix_micros(col("ts")), col("event_id"))).as("value"))
        steppedRollup(s, dir, "last_over_time", sel, spec.lookbackSec, spec,
            rawSel)
          .getOrElse(rawSel(spec))

      case RangeFunc(fn, sel, rangeSec, q, q2) =>
        // lookback window (step − W, step]; lossless verbs over aligned
        // windows serve from the rollup in an opted-in session; the
        // raw path takes the spec so the fresh-tail hybrid can narrow
        // both the step grid and the scan's pushed ts bounds to the
        // open tail only
        def rawRange(sp: EvalSpec): DataFrame = {
          val covered = coveringSteps(select(s, dir, sel,
            Some((sp.startSec - rangeSec, sp.endSec))), sp, rangeSec)
          rangeApply(covered, fn, rangeSec, q,
            (col("step") - rangeSec).cast("double"), col("step").cast("double"),
            seriesLabels(sel), q2)
        }
        steppedRollup(s, dir, fn, sel, rangeSec, spec, rawRange)
          .getOrElse(rawRange(spec))

      case SubqueryFunc(fn, child, rangeSec, stepSec, q) =>
        // inner expr evaluates on the ABSOLUTE stepSec-aligned grid
        // covering [start − range, end] (Prometheus aligns subquery
        // steps to multiples of the resolution, not to the outer steps)
        val iStart = Math.ceil((spec.startSec - rangeSec).toDouble / stepSec).toLong * stepSec
        val iEnd = Math.floorDiv(spec.endSec, stepSec) * stepSec
        require(iEnd >= iStart,
          s"subquery [${rangeSec}s:${stepSec}s] has no aligned inner steps in the spec range")
        val inner = evalAt(s, dir, child, spec.copy(startSec = iStart, endSec = iEnd,
          stepSec = stepSec)).withColumnRenamed("step", "istep")
        // the outer range function then runs over inner evaluations as
        // if they were samples: ts = the inner step, tiebreak = istep
        // (unique per series per window)
        val innerLabels = inner.columns.filter(c => c != "istep" && c != "value").toSeq
        val prepped = coveringSteps(inner, spec, rangeSec, col("istep") * 1000000L)
          .withColumn("ts", timestamp_seconds(col("istep")))
          .withColumn("event_id", col("istep"))
          .drop("istep")
        rangeApply(prepped, fn, rangeSec, q,
          (col("step") - rangeSec).cast("double"), col("step").cast("double"),
          innerLabels)

      case AbsentFn(sel, rangeSec0) if sel.atSec.isDefined =>
        // absent of a pinned selector: constant across the grid — every
        // step is 1 iff the @ window holds no matching sample (anti
        // join on an always-true condition keeps the grid exactly when
        // the one-row presence marker is empty)
        val t = sel.atSec.get
        val w = if (rangeSec0 > 0) rangeSec0 else spec.lookbackSec
        val present = select(s, dir, sel, Some((t - w, t)))
          .filter(inWindow(t - w, t))
          .select(lit(1L).as("one")).limit(1)
        s.range(0, spec.maxK + 1)
          .select((col("id") * spec.stepSec + spec.startSec).as("step"))
          .join(broadcast(present), lit(true), "left_anti")
          .withColumn("value", lit(1.0))

      case AbsentFn(sel, rangeSec0) =>
        // the spec's step grid minus the steps any window sample serves
        // (absent: the lookback window; absent_over_time: its range)
        val w = if (rangeSec0 > 0) rangeSec0 else spec.lookbackSec
        val steps = s.range(0, spec.maxK + 1)
          .select((col("id") * spec.stepSec + spec.startSec).as("step"))
        val present =
          coveringSteps(select(s, dir, sel, bounds(w)), spec, w)
          .select("step").distinct()
        steps.join(present, Seq("step"), "left_anti").withColumn("value", lit(1.0))

      case Agg(op, by, child, k, without, q, vlabel) =>
        aggOver(evalAt(s, dir, child, spec), op, by, k, without, q, vlabel)

      case MathFn(fn, child, arg, arg2) =>
        mathOver(evalAt(s, dir, child, spec), fn, arg, arg2)

      case lr: LabelReplace => labelOver(evalAt(s, dir, lr.child, spec), lr)
      case lj: LabelJoin => labelOver(evalAt(s, dir, lj.child, spec), lj)
      case SortFn(ch, desc) => sortOver(evalAt(s, dir, ch, spec), desc)
      case SortByLabel(ch, ls, desc) =>
        sortByLabelOver(evalAt(s, dir, ch, spec), ls, desc)

      case TimestampFn(sel) if sel.atSec.isDefined =>
        throw new IllegalArgumentException(
          "@ on timestamp() is not supported")
      case TimestampFn(sel) =>
        coveringSteps(select(s, dir, sel, bounds(spec.lookbackSec)), spec, spec.lookbackSec)
          .groupBy(("step" +: seriesLabels(sel)).map(col): _*)
          .agg((max(unix_micros(col("ts"))).cast("double") / 1e6).as("value"))

      case Scalar(_) =>
        throw new IllegalArgumentException(
          "a bare scalar is not a range query; combine it with a vector")

      case TimeFn =>
        // the step grid itself, as a label-less vector of its own time
        s.range(0, spec.maxK + 1)
          .select((col("id") * spec.stepSec + spec.startSec).as("step"))
          .withColumn("value", col("step").cast("double"))

      case ScalarOf(ch) =>
        scalarOf(evalAt(s, dir, ch, spec))

      case VectorOf(ch) =>
        // a label-less vector carrying the scalar at every step
        ch match {
          case Scalar(v) =>
            s.range(0, spec.maxK + 1)
              .select((col("id") * spec.stepSec + spec.startSec).as("step"))
              .withColumn("value", lit(v))
          case e => scalarOf(evalAt(s, dir, e, spec))
        }

      case BinOp(op, _, lhs, Scalar(v), _, _, b, _, _) if !setOps(op) =>
        if (cmpOps.contains(op))
          scalarCompare(evalAt(s, dir, lhs, spec), op, lit(v), scalarRight = true, b)
        else scalarArith(evalAt(s, dir, lhs, spec), op, lit(v), scalarRight = true)
      case BinOp(op, _, Scalar(v), rhs, _, _, b, _, _) if !setOps(op) =>
        if (cmpOps.contains(op))
          scalarCompare(evalAt(s, dir, rhs, spec), op, lit(v), scalarRight = false, b)
        else scalarArith(evalAt(s, dir, rhs, spec), op, lit(v), scalarRight = false)
      case BinOp(op, _, lhs, TimeFn, _, _, b, _, _) if !setOps(op) =>
        val t = col("step").cast("double")
        if (cmpOps.contains(op))
          scalarCompare(evalAt(s, dir, lhs, spec), op, t, scalarRight = true, b)
        else scalarArith(evalAt(s, dir, lhs, spec), op, t, scalarRight = true)
      case BinOp(op, _, TimeFn, rhs, _, _, b, _, _) if !setOps(op) =>
        val t = col("step").cast("double")
        if (cmpOps.contains(op))
          scalarCompare(evalAt(s, dir, rhs, spec), op, t, scalarRight = false, b)
        else scalarArith(evalAt(s, dir, rhs, spec), op, t, scalarRight = false)
      case BinOp(op, _, lhs, ScalarOf(ch), _, _, b, _, _) if !setOps(op) =>
        perStepScalarOp(evalAt(s, dir, lhs, spec),
          scalarOf(evalAt(s, dir, ch, spec)), op, scalarRight = true, boolMod = b)
      case BinOp(op, _, ScalarOf(ch), rhs, _, _, b, _, _) if !setOps(op) =>
        perStepScalarOp(evalAt(s, dir, rhs, spec),
          scalarOf(evalAt(s, dir, ch, spec)), op, scalarRight = false, boolMod = b)
      case BinOp(op, on, lhs, rhs, ignoring, groupLeft, b, gr, carry) =>
        val (le, re) = (evalAt(s, dir, lhs, spec), evalAt(s, dir, rhs, spec))
        if (setOps(op)) setOver(le, re, op, on, ignoring)
        else if (cmpOps.contains(op)) cmpOver(le, re, op, on, ignoring, b)
        else binOver(le, re, op, on, ignoring, groupLeft, gr, carry)
    }
  }

  /** Apply `vector op scalar` (or `scalar op vector` when
    * scalarRight=false) to the value column — a pure projection.
    */
  private def scalarArith(df: DataFrame, op: String, v: Column,
                          scalarRight: Boolean): DataFrame = {
    val x = col("value")
    // drop zero denominators on EITHER side, matching binOver's guard
    // (Spark's non-ANSI x/0 is null, not PromQL's +Inf — a null value
    // row silently vanishes from downstream aggregates). `vector / 0`
    // therefore yields an empty frame.
    val divLike = op == "/" || op == "%"
    val guarded =
      if (divLike && !scalarRight) df.filter(x =!= 0.0)
      else if (divLike && scalarRight) df.filter(v =!= 0.0)
      else df
    val out = (op, scalarRight) match {
      case ("/", true)  => x / v
      case ("/", false) => v / x
      case ("*", _)     => x * v
      case ("+", _)     => x + v
      case ("-", true)  => x - v
      case ("-", false) => v - x
      case ("%", true)  => x % v
      case ("%", false) => v % x
      case ("^", true)  => pow(x, v)
      case ("^", false) => pow(v, x)
      case ("atan2", true)  => atan2(x, v)
      case ("atan2", false) => atan2(v, x)
      case (o, _) => throw new IllegalArgumentException(s"unknown op '$o'")
    }
    guarded.withColumn("value", out)
  }

  /** PromQL scalar math functions over the value column — pure
    * projections. round uses the exact Prometheus formula
    * (promql/functions.go funcRound): multiply by the INVERSE of
    * to_nearest and divide back — `floor(v·(1/to) + 0.5) / (1/to)` —
    * so results match the reference bit for bit, including the cases
    * where 1/to is not exactly representable. The parser rejects
    * to_nearest <= 0, so the inverse is always finite.
    */
  private def mathOver(df: DataFrame, fn: String, arg: Double,
                       arg2: Double = 0.0): DataFrame = {
    // Prometheus funcClamp returns an EMPTY vector when min > max
    if (fn == "clamp" && arg > arg2) return df.filter(lit(false))
    val x = col("value")
    // Time-component functions read the VALUE as epoch seconds in UTC
    // regardless of spark.sql.session.timeZone: hour/minute are pure
    // epoch arithmetic, and the date components go through DATE values
    // (date_add on the epoch day is timezone-free — Spark's hour()/
    // month() on TIMESTAMP render in the session zone, which would
    // silently diverge from Prometheus off-UTC).
    def secs = floor(x).cast("long")
    def d = date_add(to_date(lit("1970-01-01")), (secs / 86400L).cast("int"))
    val out = fn match {
      case "abs"       => abs(x)
      // Spark's ceil/floor on doubles return LONG: cast back (exact for
      // |x| < 2^63 — the engine's value domain)
      case "ceil"      => ceil(x).cast("double")
      case "floor"     => floor(x).cast("double")
      case "sqrt"      => sqrt(x)
      case "exp"       => exp(x)
      case "ln"        => log(x)
      case "log2"      => log2(x)
      case "log10"     => log10(x)
      case "sgn"       => signum(x)
      case "sin"   => sin(x)
      case "cos"   => cos(x)
      case "tan"   => tan(x)
      case "asin"  => asin(x)
      case "acos"  => acos(x)
      case "atan"  => atan(x)
      case "sinh"  => sinh(x)
      case "cosh"  => cosh(x)
      case "tanh"  => tanh(x)
      case "asinh" => asinh(x)
      case "acosh" => acosh(x)
      case "atanh" => atanh(x)
      case "deg"   => degrees(x)
      case "rad"   => radians(x)
      case "clamp_min" => greatest(x, lit(arg))
      case "clamp_max" => least(x, lit(arg))
      case "clamp" => least(greatest(x, lit(arg)), lit(arg2))
      // Column `/` is DOUBLE division even on longs — floor it
      case "hour"          => floor((secs % 86400L) / 3600L).cast("double")
      case "minute"        => floor((secs % 3600L) / 60L).cast("double")
      case "month"         => month(d).cast("double")
      case "year"          => year(d).cast("double")
      case "day_of_month"  => dayofmonth(d).cast("double")
      // PromQL day_of_week is 0 = Sunday; Spark's is 1 = Sunday
      case "day_of_week"   => (dayofweek(d) - 1).cast("double")
      case "day_of_year"   => dayofyear(d).cast("double")
      case "days_in_month" => dayofmonth(last_day(d)).cast("double")
      case "round" =>
        val inv = 1.0 / arg
        floor(x * lit(inv) + lit(0.5)) / lit(inv)
    }
    df.withColumn("value", out)
  }

  /** label_replace / label_join over an evaluated frame — pure
    * projections on the label columns. A label absent from the frame
    * reads as the empty string (Prometheus's missing-label value);
    * label_replace keeps the previous dst value when the anchored
    * regex does not match (series unchanged). The output keeps the
    * (step, labels..., value) column order.
    */
  private def labelOver(in: DataFrame, e: Expr): DataFrame = {
    def strOf(c: String): Column =
      if (in.columns.contains(c)) col(c).cast("string") else lit("")
    def dstOf(d: String): String = {
      val mapped = if (d == "__name__") "event_type" else d
      require(mapped != "step" && mapped != "value",
        s"label name '$d' collides with the frame's reserved columns")
      mapped
    }
    val added = e match {
      case LabelReplace(_, dst0, repl, src, re) =>
        val dst = dstOf(dst0)
        val anchored = s"^(?:$re)$$"
        in.withColumn(dst,
          when(strOf(src).rlike(anchored),
            regexp_replace(strOf(src), anchored, repl))
            .otherwise(strOf(dst)))
      case LabelJoin(_, dst0, sep, srcs) =>
        val dst = dstOf(dst0)
        in.withColumn(dst, concat_ws(sep, srcs.map(strOf): _*))
      case other => throw new IllegalArgumentException(s"not a label fn: $other")
    }
    val labels = added.columns.filter(c => c != "step" && c != "value").toSeq
    added.select(("step" +: labels :+ "value").map(col): _*)
  }

  /** sort()/sort_desc(): rank the step's series by value (NaNs last in
    * ascending order, as both engines' double ordering puts them), with
    * the label columns as the deterministic tiebreak. The window
    * partitions by step — per-reducer work is one step's SERIES set
    * (the final instant vector), which stays bounded at any data scale;
    * the unbounded axis (samples) was already aggregated away below.
    */
  private def sortOver(in: DataFrame, desc: Boolean): DataFrame = {
    val labels = in.columns.filter(c => c != "step" && c != "value").toSeq
    val ord = (if (desc) col("value").desc else col("value").asc) +:
      labels.map(col(_).asc)
    in.withColumn("rank",
      row_number().over(Window.partitionBy("step").orderBy(ord: _*)))
  }

  /** sort_by_label(_desc): rank by the named labels' STRING values
    * (Prometheus compares label values lexicographically — "10" < "2"),
    * remaining labels then the sample as deterministic tiebreaks. Same
    * rank-materialized per-step window as [[sortOver]].
    */
  private def sortByLabelOver(in: DataFrame, by: Seq[String],
                              desc: Boolean): DataFrame = {
    val labels = in.columns.filter(c => c != "step" && c != "value").toSeq
    by.foreach(l => require(labels.contains(l),
      s"sort_by_label: unknown label '$l' (have ${labels.mkString(",")})"))
    val keys = by.map(l =>
      if (desc) col(l).cast("string").desc else col(l).cast("string").asc)
    val ord = keys ++ labels.diff(by).map(col(_).asc) :+ col("value").asc
    in.withColumn("rank",
      row_number().over(Window.partitionBy("step").orderBy(ord: _*)))
  }

  /** Parse + evaluate with the default tumbling steps. `src` picks the
    * sample layout — [[EventsSource]] (row store, default) or
    * [[ChunkSource]] (the reference's XOR chunk table).
    */
  def query(s: SparkSession, dir: String, q: String,
            src: SampleSource = EventsSource): DataFrame =
    eval(s, dir, parse(q))(src)

  /** Parse + evaluate as a true range query at the spec's steps. */
  def queryAt(s: SparkSession, dir: String, q: String, spec: EvalSpec,
              src: SampleSource = EventsSource): DataFrame =
    evalAt(s, dir, parse(q), spec)(src)
}
