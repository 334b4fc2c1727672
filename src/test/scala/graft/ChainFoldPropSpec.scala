package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.DownsampleStore
import SparkFixture.spark

/** Property-style exercise of the chain fold (DownsampleStore.rollupFrom,
  * round 15): for ADVERSARIAL generated corpora — boundary-seated
  * samples, duplicate timestamps with distinct event_ids, counter
  * resets, negative values, ±0.0 — the twice-folded 1 d store
  * (raw → 300 s → 1 h → 1 d) must equal the direct day-grain
  * aggregation of the raw events, every partial including the counter
  * inc_dec. The fixture-corpus equality lives in SteppedRollupSpec;
  * this spec hunts the fold's edge cases with seeded generators
  * (deterministic — each seed is a reproducible counterexample).
  */
class ChainFoldPropSpec extends AnyFunSuite {

  private def genEvents(seed: Long, n: Int): Seq[(Long, Long, Long, String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val base = 1704067200L * 1000000L // 2024-01-01T00:00:00 in µs
    (0 until n).map { i =>
      // cluster timestamps so buckets/hours/days carry multiple rows;
      // seat some samples EXACTLY on 300s/3600s/86400s boundaries and
      // duplicate some timestamps (order key must break ties by id)
      val us = rnd.nextInt(6) match {
        case 0 => base + rnd.nextInt(4) * 86400L * 1000000L // day edge
        case 1 => base + rnd.nextInt(96) * 3600L * 1000000L // hour edge
        case 2 => base + rnd.nextInt(1152) * 300L * 1000000L // bucket edge
        case 3 => base + (rnd.nextInt(256) * 1000L) * 1000000L // dup-prone
        case _ => base + math.abs(rnd.nextLong() % (4L * 86400L * 1000000L))
      }
      val value = rnd.nextInt(8) match {
        case 0 => 0.0
        case 1 => -0.0
        case 2 => -rnd.nextInt(100).toDouble / 7.0
        case 3 => rnd.nextInt(3).toDouble // repeats → zero growths
        case _ => rnd.nextDouble() * 1000.0 - 200.0 // resets included
      }
      (i.toLong, us, (rnd.nextInt(5) + 1).toLong,
        Seq("click", "view", "purchase")(rnd.nextInt(3)), value)
    }
  }

  test("the twice-folded 1d store equals the direct raw day aggregation on adversarial corpora") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val D = DownsampleStore.DayResolutionSec
    val dec = "decimal(30,6)"
    for (seed <- Seq(7L, 41L, 1337L)) {
      val root = SparkFixture.tmp(s"chainprop_$seed")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val dir = s"$root/data"
      genEvents(seed, 600).toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us"))
          .cast("timestamp_ntz"))
        .withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // fresh store root per seed: the chain caches by store path
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.store.root", s"$root/stores")
      val stored = DownsampleStore.table1d(s2, dir)
      val w = Window.partitionBy("user_id", "event_type", "db")
        .orderBy(col("us"), col("event_id"))
      val raw = Tables.events(s2, dir)
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("db", expr(s"(us div ${D * 1000000L}) * $D"))
        .withColumn("prev", lag("value", 1).over(w))
        .groupBy(col("db").as("bucket"), col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n_samples"),
          sum(col("value").cast(dec)).as("sum_dec"),
          min("value").as("min_value"), max("value").as("max_value"),
          min_by(col("value"), struct(col("us"), col("event_id")))
            .as("first_value"),
          max_by(col("value"), struct(col("us"), col("event_id")))
            .as("last_value"),
          sum(when(col("prev").isNotNull,
            when(col("value") >= col("prev"), col("value") - col("prev"))
              .otherwise(col("value"))).cast(dec)).as("inc_dec"))
      val sel = stored.select(raw.columns.map(col).toSeq: _*)
      assert(sel.exceptAll(raw).count() === 0 &&
        raw.exceptAll(sel).count() === 0,
        s"seed $seed: twice-folded store must equal direct day aggregation")
      assert(raw.count() > 0, s"seed $seed produced no groups")
      // the generators must actually hit the edge cases they claim
      val edges = Tables.events(s2, dir)
        .filter(expr(s"unix_micros(ts) % ${300L * 1000000L} = 0")).count()
      assert(edges > 0, s"seed $seed must seat samples on bucket edges")
    }
  }

  test("incremental fold: random horizon sequences union to the one-shot fold") {
    // the stream chain's crash-safe increment law (round 16,
    // RollupMaintainStream.foldLevel): for ANY monotone horizon
    // sequence h_0 < h_1 < …, the per-increment folds of
    // child[h_{i-1}, h_i) union to the one-shot fold of child[…, h_n)
    // — because every parent bucket nests in exactly one increment.
    // Empty increments (a horizon advance over a data gap) included.
    import spark.implicits._
    val H = DownsampleStore.HourResolutionSec
    for (seed <- Seq(11L, 83L, 2024L)) {
      val rnd = new scala.util.Random(seed)
      val root = SparkFixture.tmp(s"chainprop_inc_$seed")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      val dir = s"$root/data"
      genEvents(seed, 600).toDF("event_id", "us", "user_id", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz"))
        .withColumn("props", lit("{}"))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val s2 = spark.newSession()
      s2.conf.set("spark.graft.store.root", s"$root/stores")
      val child = DownsampleStore.table(s2, dir) // the 300 s level
      val hMax = child.agg(max("bucket")).collect()(0).getLong(0) + 300L
      // random monotone hour-aligned horizon cuts (some advancing over
      // empty ranges — the generator leaves gaps by construction)
      val top = (hMax / H + 1L) * H
      val cuts = (Seq(1704067200L) ++
        (1 to 4).map(_ => 1704067200L +
          (rnd.nextLong().abs % ((top - 1704067200L) / H + 1L)) * H) ++
        Seq(top)).distinct.sorted
      val incs = cuts.zip(cuts.tail).map { case (lo, hi) =>
        DownsampleStore.rollupFrom(
          child.filter(col("bucket") >= lo && col("bucket") < hi), H)
      }
      val unioned = incs.reduce(_ unionAll _)
      val oneShot = DownsampleStore.rollupFrom(
        child.filter(col("bucket") < top), H)
      assert(unioned.exceptAll(oneShot).count() === 0 &&
        oneShot.exceptAll(unioned).count() === 0,
        s"seed $seed cuts $cuts: increments must union to the one-shot fold")
      assert(oneShot.count() > 0)
    }
  }
}
