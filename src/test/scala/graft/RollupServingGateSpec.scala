package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Promql, RuleGroup}
import graft.plans.RollupRewrite
import graft.streaming.{RollupCompactor, RollupMaintainStream => RMS}
import RollupCompactorSpec.{buildWaved, dir01}
import SparkFixture.spark

/** Every stream-store gate of plans/RollupServing.scala, checked on every
  * consumer that honours it: a store failing the gate is refused and
  * the query evaluates raw, bit-equal to a flag-off session. The
  * control rows show the unbroken store serving each consumer's query,
  * so a refusal is the gate's doing, not the query's shape.
  */
class RollupServingGateSpec extends AnyFunSuite {

  // the waved store's horizon lies near 2024-01-21; both grids are
  // closed well below it and reach the start of the data, below any
  // retention floor. 30 min steps keep the fold bands out, so the raw
  // band serves every step.
  private val grid = Promql.EvalSpec(1704067200L, 1704240000L, 1800L, 7200L)
  private val rules = Seq(RuleGroup.Rule("gate_hot", "count_over_time",
    Seq("click", "view"), 1800L, Seq("event_type"), Some((">", 1.0))))

  private case class Consumer(name: String, openLeft: Boolean,
                              run: (SparkSession, String) => DataFrame,
                              reads: (SparkSession, DataFrame, String) => Boolean)

  private def planReads(s: SparkSession, df: DataFrame, store: String) =
    SparkFixture.planOf(df).contains(store)

  private val consumers = Seq(
    // 5 min tumbling windows: no fold band joins
    Consumer("tumbling rule", openLeft = false,
      (s, d) => Promql.query(s, d, "sum(count_over_time(click[5m]))"),
      planReads),
    Consumer("stepped queryAt", openLeft = true,
      (s, d) => Promql.queryAt(s, d, "sum_over_time(click[30m])", grid),
      planReads),
    Consumer("RuleGroup.evaluateUnion", openLeft = true,
      (s, d) => RuleGroup.evaluateUnion(s, d, grid, rules),
      (s, _, store) => RuleGroup.lastScanPaths(s).get()
        .values.flatten.exists(_.contains(store))))

  private lazy val good: String = buildWaved("gates")._2

  /** A copy of the good store with one gate broken by `break`. */
  private def broken(tag: String)(break: String => Unit): String = {
    val dst = SparkFixture.tmp(s"rollup_gate_$tag")
    FileUtils.deleteQuietly(new File(dst))
    FileUtils.copyDirectory(new File(good), new File(dst))
    break(dst)
    dst
  }

  private lazy val noWatermark = broken("nowm")(st =>
    assert(new File(st, "_watermark").delete()))
  private lazy val edgeDirty = broken("edge")(st =>
    RMS.writeMarker(st, "_edge_count", 1L))
  private lazy val retained = broken("floor") { st =>
    RollupCompactor.compact(spark, st, retainRawFor = Some(4L * 86400L))
    assert(RollupCompactor.retainFloor(st) > grid.startSec)
  }

  private def sameRows(a: DataFrame, b: DataFrame, tag: String): Unit = {
    val bb = b.select(a.columns.map(col).toSeq: _*)
    assert(a.exceptAll(bb).count() === 0 && bb.exceptAll(a).count() === 0,
      s"$tag: output must equal the raw evaluation")
    assert(a.count() > 0, s"$tag must produce rows")
  }

  private def check(c: Consumer, store: String, dir: String,
                    serves: Boolean, tag: String): Unit = {
    val s2 = spark.newSession()
    s2.conf.set(RollupRewrite.Flag, "true")
    s2.conf.set(RollupRewrite.StreamStoreConf, store)
    val out = c.run(s2, dir)
    val raw = c.run(spark, dir)
    val tagged = s"${c.name}, $tag"
    if (serves) {
      // the tumbling rule withholds steps past the horizon; the grids
      // of the other two are closed, so they serve whole
      val h = RMS.horizonSec(store).get
      sameRows(out,
        if (c.openLeft) raw else raw.filter(col("step") + 300L <= h), tagged)
    } else sameRows(out, raw, tagged)
    assert(c.reads(s2, out, store) === serves,
      s"$tagged: the store must ${if (serves) "serve" else "be refused"}")
  }

  for (c <- consumers) {
    test(s"${c.name}: the unbroken store serves (control)") {
      check(c, good, dir01, serves = true, "control")
    }
    test(s"${c.name}: a store bound to another dataset's dir is refused") {
      check(c, good, SparkFixture.sf, serves = false, "other dataset")
    }
    test(s"${c.name}: a store without _watermark is refused") {
      check(c, noWatermark, dir01, serves = false, "no _watermark")
    }
    test(s"${c.name}: a grid reaching below the retention floor is refused") {
      check(c, retained, dir01, serves = false, "below the floor")
    }
    if (c.openLeft)
      test(s"${c.name}: a nonzero _edge_count is refused") {
        check(c, edgeDirty, dir01, serves = false, "_edge_count 1")
      }
    else
      test(s"${c.name}: a nonzero _edge_count still serves (closed-left windows)") {
        check(c, edgeDirty, dir01, serves = true, "_edge_count 1")
      }
  }
}
