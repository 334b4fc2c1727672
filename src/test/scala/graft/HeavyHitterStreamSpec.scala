package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.HeavyHitterStream
import SparkFixture.{sf, spark}

/** Streaming MG heavy hitters: the stream-held sketch must satisfy the
  * same published contract SketchSpec proves for the batch aggregate —
  * lower bounds within n_shard/(K+1) of truth, every true heavy hitter
  * surviving as a candidate — across multi-batch arrival with a
  * checkpoint between batches.
  */
class HeavyHitterStreamSpec extends AnyFunSuite {

  private def root(tag: String): String = {
    val r = SparkFixture.tmp(s"hhstream_$tag")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(r))
    Files.createDirectories(Paths.get(s"$r/in"))
    r
  }

  test("sharded MG state holds the bounds; true heavy hitters survive batches") {
    val r = root("main")
    val docs = Tables.documents(spark, sf)

    // two arrival batches (doc_id parity), a full maintenance pass each
    docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$r/in/b1")
    HeavyHitterStream.runOnce(spark, s"$r/in/*", s"$r/out", s"$r/ck")
    docs.filter(col("doc_id") % 2 === 1).coalesce(1).write.parquet(s"$r/in/b2")
    HeavyHitterStream.runOnce(spark, s"$r/in/*", s"$r/out", s"$r/ck")

    // exact truth over the full corpus
    val toks = docs.select(
      explode(expr("filter(split(text, ' '), w -> w <> '')")).as("w"))
    val nTotal = toks.count()
    val exact = toks.groupBy("w").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val trueHeavy = exact.collect {
      case (w, c) if c * 100L > nTotal => w
    }.toSet
    assert(trueHeavy.nonEmpty, "fixture should have heavy hitters")

    val cand = HeavyHitterStream.candidates(spark, s"$r/out").collect()
      .map(x => (x.getInt(0), x.getString(1), x.getLong(2), x.getLong(3)))
    // a word lives in exactly one shard (disjoint sharding)
    assert(cand.groupBy(_._2).forall(_._2.map(_._1).distinct.length == 1))
    // MG bounds vs truth: c_lb <= c <= c_lb + n_shard/(K+1)
    cand.foreach { case (_, w, cLb, nShard) =>
      val c = exact(w)
      assert(cLb <= c, s"$w: lb $cLb > true $c")
      assert(c - cLb <= nShard / (HeavyHitterStream.K + 1L),
        s"$w: error ${c - cLb} over bound")
    }
    // shard totals reconstruct the corpus total
    assert(cand.map(x => (x._1, x._4)).distinct.map(_._2).sum === nTotal)

    val hh = HeavyHitterStream.heavyHitters(spark, s"$r/out").collect()
    val possible = hh.map(_.getString(0)).toSet
    val certain = hh.filter(_.getBoolean(4)).map(_.getString(0)).toSet
    // the guarantee: every true heavy hitter is a surviving candidate
    // flagged possible; certainty is sound
    assert(trueHeavy.subsetOf(possible), (trueHeavy -- possible).toString)
    assert(certain.subsetOf(trueHeavy), (certain -- trueHeavy).toString)
    // agreement with the batch entry (definitionally the true set)
    val batch = graft.functions.HeavyHitters.textHeavyHitters(spark, sf)
      .collect().map(_.getString(0)).toSet
    assert(batch === trueHeavy)
  }

  test("crash replay lands no duplicate snapshot rows (exactly-once sink)") {
    val r = root("replay")
    val docs = Tables.documents(spark, sf)
    docs.coalesce(1).write.parquet(s"$r/in/b1")
    HeavyHitterStream.runOnce(spark, s"$r/in/*", s"$r/out", s"$r/ck")
    def snapRows() = spark.read.parquet(s"$r/out")
      .select("shard", "w", "c_lb", "n_shard")
    val before = snapRows().collect().toSeq
    assert(before.nonEmpty)
    // simulate a crash AFTER the sink write but BEFORE the batch
    // commit: drop the latest commit marker so the restart replays the
    // last batch through foreachBatch a second time
    val commits = new java.io.File(s"$r/ck/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent,
      s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) crc.delete()
    HeavyHitterStream.runOnce(spark, s"$r/in/*", s"$r/out", s"$r/ck")
    val after = snapRows().collect().toSeq
    // the replayed batch OVERWROTE its own part with the identical
    // deterministic recompute — row-for-row equal, nothing doubled
    assert(after.sortBy(x => (x.getInt(0), x.getString(1))).toList ===
      before.sortBy(x => (x.getInt(0), x.getString(1))).toList)
    val hh = HeavyHitterStream.heavyHitters(spark, s"$r/out")
    assert(hh.count() === hh.distinct().count(),
      "served heavy hitters must carry no duplicate rows after replay")
    // a fresh checkpoint over the existing batch-keyed sink is refused
    intercept[IllegalArgumentException] {
      HeavyHitterStream.runOnce(spark, s"$r/in/*", s"$r/out", s"$r/ck_fresh")
    }
  }
}
