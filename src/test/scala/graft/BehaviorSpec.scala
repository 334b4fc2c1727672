package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Behavior
import SparkFixture.{sf, spark, planOf}

class BehaviorSpec extends AnyFunSuite {

  test("sessionize equals the naive flag+groupBy plan row for row") {
    val fast = Behavior.sessionize(spark, sf)
    // the two-exchange reference plan: flag, cumulative session index,
    // then a plain groupBy on the derived (user, session) key
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gapUs = Behavior.DefaultSessionGapSec * 1000000L
    val naive = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("value_sum"))
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("sessionizeNative equals the strict-rule reference; no window sort") {
    val fast = Behavior.sessionizeNative(spark, sf)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val gapUs = Behavior.DefaultSessionGapSec * 1000000L
    // strict overlap: a successor merges only when diff < gap
    val naive = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .withColumn("prev_ts", lag("ts_us", 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(min("ts_us").as("start_us"), max("ts_us").as("end_us"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("value_sum"))
      .drop("session_idx")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
    // the TVF aggregates without a window sort operator
    val plan = fast.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("RunningWindow"),
      s"native session_window must not plan a window:\n$plan")
  }

  test("sessionize is a single wide exchange (no groupBy on the session key)") {
    val plan = planOf(Behavior.sessionize(spark, sf))
    // formatted mode: each Exchange node appears once as "(N) Exchange"
    val shuffles = """\(\d+\) Exchange""".r.findAllIn(plan).length
    assert(shuffles === 1, s"expected 1 shuffle, plan:\n$plan")
  }

  test("sessionize invariants: gaps split, coverage is exact") {
    val sess = Behavior.sessionize(spark, sf).localCheckpoint()
    val ev = Tables.events(spark, sf)
    // every event is inside exactly one of its user's sessions
    assert(sess.agg(sum("n_events")).collect()(0).getLong(0) === ev.count())
    // within a user, consecutive sessions are separated by > gap
    val w = Window.partitionBy("user_id").orderBy("session_idx")
    val gapUs = Behavior.DefaultSessionGapSec * 1000000L
    val viol = sess
      .withColumn("prev_end", lag("end_us", 1).over(w))
      .filter(col("prev_end").isNotNull &&
        col("start_us") - col("prev_end") <= gapUs)
    assert(viol.count() === 0)
    // no session spans a gap: end - start of an n-event session is at
    // most (n-1) * gap
    val spanViol = sess.filter(
      col("end_us") - col("start_us") > (col("n_events") - 1) * gapUs)
    assert(spanViol.count() === 0)
  }

  test("a smaller gap only splits sessions, never merges them") {
    val coarse = Behavior.sessionize(spark, sf).count()
    val fine = Behavior.sessionize(spark, sf, gapSec = 1800L).count()
    assert(fine >= coarse)
  }

  test("funnel matches the brute-force ordered-triple computation") {
    val row = Behavior.funnel(spark, sf).collect()(0)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byUser = ev.groupBy(_._1).view.mapValues(
      _.sortBy(e => (e._2, e._3)).map(_._4).toList)
    def reaches(seq: List[String], stages: List[String]): Boolean =
      stages.foldLeft(Option(seq)) {
        case (Some(rest), stage) =>
          val i = rest.indexOf(stage)
          if (i >= 0) Some(rest.drop(i + 1)) else None
        case (None, _) => None
      }.isDefined
    val nView = byUser.count { case (_, s) => s.contains("view") }
    val nVC = byUser.count { case (_, s) => reaches(s, List("view", "click")) }
    val nVCP = byUser.count { case (_, s) =>
      reaches(s, List("view", "click", "purchase")) }
    assert(row.getLong(0) === nView)
    assert(row.getLong(1) === nVC)
    assert(row.getLong(2) === nVCP)
    // funnel stages are monotone by construction
    assert(row.getLong(0) >= row.getLong(1) && row.getLong(1) >= row.getLong(2))
  }

  test("retention cell (c, 0) counts every user of cohort week c") {
    val ret = Behavior.retention(spark, sf).localCheckpoint()
    // offset-0 cells partition the user population: every user is active
    // in their own first week by definition
    val week0 = ret.filter(col("week_offset") === 0)
      .agg(sum("n_users")).collect()(0).getLong(0)
    assert(week0 === Tables.events(spark, sf)
      .select("user_id").distinct().count())
    // no cell can exceed its cohort's size
    val cohortSize = ret.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_n"))
    val viol = ret.join(cohortSize, Seq("cohort_week"))
      .filter(col("n_users") > col("cohort_n"))
    assert(viol.count() === 0)
  }
}
