package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{DownsampleStore, UpsertStore}
import graft.pipeline.Retrieval
import SparkFixture.{sf, spark}

/** Invariants for the round-8 store-level operators: the downsampling
  * rollup, merge-on-read upsert, and the inverted-index search path.
  */
class StoreOpsSpec extends AnyFunSuite {

  test("downsample: hourly re-aggregation reproduces the raw-events hourly sum exactly") {
    val fromRollup = DownsampleStore.downsampleSum(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val fromRaw = graft.operators.TimeSeries.rangeSumBy(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(fromRollup === fromRaw)
  }

  test("downsample: rollup conserves count/min/max and picks true first/last per bucket") {
    val rollup = DownsampleStore.downsample(spark, sf)
    val raw = Tables.events(spark, sf)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("bucket", expr("(us div 300000000) * 300"))
    assert(rollup.agg(sum("n_samples")).head.getLong(0) === raw.count())
    // per-bucket first/last must equal the raw (us, event_id)-ordered
    // endpoints — computed here via windows, the formulation the
    // single-pass arg-min/arg-max store must agree with
    val w = Window.partitionBy("bucket", "user_id", "event_type")
      .orderBy(col("us"), col("event_id"))
    val expected = raw
      .select(col("bucket"), col("user_id"), col("event_type"),
        first("value").over(w).as("first_value"),
        last("value").over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)).as("last_value"),
        row_number().over(w).as("rn"))
      .filter(col("rn") === 1).drop("rn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    val got = rollup.select("bucket", "user_id", "event_type",
        "first_value", "last_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(got === expected)
  }

  test("upsert: latest-version resolution applies every delta row and only those") {
    val base = UpsertStore.base(spark, sf)
    val merged = UpsertStore.upsertLatest(spark, sf).localCheckpoint()
    assert(merged.count() === base.count()) // upsert never changes the key set
    val v2 = merged.filter(col("version") === 2L)
    assert(v2.count() === UpsertStore.delta(spark, sf).count())
    assert(merged.filter(col("user_id") % 7 === 0 && col("version") =!= 2L).count() === 0L)
    // every v2 value is its base value + 1000
    val joined = v2.alias("m")
      .join(base.alias("b"), "event_id")
      .filter(abs(col("m.value") - (col("b.value") + 1000.0)) > 1e-9)
    assert(joined.count() === 0L)
  }

  test("upsert with tombstones: winning deletes drop keys, update-then-delete chains resolve to delete") {
    val base = UpsertStore.base(spark, sf)
    val merged = UpsertStore.upsertTombstone(spark, sf).localCheckpoint()
    val deletedKeys = base.filter(col("user_id") % 13 === 0).count()
    assert(merged.count() === base.count() - deletedKeys)
    assert(merged.filter(col("user_id") % 13 === 0).count() === 0L)
    // keys hit only by the update batch still resolve to v2
    assert(merged.filter(col("user_id") % 7 === 0 && col("version") =!= 2L).count() === 0L)
  }

  test("changelog: typed change rows match the batch derivations, and replaying them rebuilds the tombstone snapshot") {
    val base = UpsertStore.base(spark, sf)
    val cdc = UpsertStore.changelog(spark, sf).localCheckpoint()
    val nKeys = base.count()
    val nUpd = base.filter(col("user_id") % 7 === 0).count()
    val nDel = base.filter(col("user_id") % 13 === 0).count()
    assert(cdc.filter(col("change_type") === "insert").count() === nKeys)
    assert(cdc.filter(col("change_type") === "update").count() === nUpd)
    assert(cdc.filter(col("change_type") === "delete").count() === nDel)
    // an incremental consumer replaying the feed (latest change wins,
    // delete drops the key) lands exactly on the tombstone snapshot
    val replayed = cdc.groupBy("event_id").agg(
      max_by(col("value"), col("version")).as("value"),
      max_by(col("change_type"), col("version")).as("last_change"))
      .filter(col("last_change") =!= "delete")
      .select("event_id", "value")
    val want = UpsertStore.upsertTombstone(spark, sf)
      .select("event_id", "value")
    assert(replayed.exceptAll(want).count() === 0L)
    assert(want.exceptAll(replayed).count() === 0L)
  }

  test("time travel: snapshotAt(v) equals the v-batch resolution for every version") {
    val s1 = UpsertStore.snapshotAt(spark, sf, 1L)
    val base = UpsertStore.base(spark, sf)
      .select("event_id", "user_id", "event_type", "us", "value", "version")
    assert(s1.exceptAll(base).count() === 0L && base.exceptAll(s1).count() === 0L)
    val s2 = UpsertStore.snapshotAt(spark, sf, 2L)
    val latest = UpsertStore.upsertLatest(spark, sf)
    assert(s2.exceptAll(latest).count() === 0L && latest.exceptAll(s2).count() === 0L)
    val s3 = UpsertStore.snapshotAt(spark, sf, 3L)
    val tomb = UpsertStore.upsertTombstone(spark, sf)
    assert(s3.exceptAll(tomb).count() === 0L && tomb.exceptAll(s3).count() === 0L)
  }

  test("term search: index-store answer equals the corpus-scan answer") {
    val terms = Retrieval.SearchTerms
    val viaIndex = Retrieval.termSearch(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // brute force straight off the documents table
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(split(text, ' '), w -> w = '$t'))").cast("long").as(s"tf$i")
    }
    val d = Tables.documents(spark, sf).select(col("doc_id") +: tfCols: _*)
    val all = terms.indices.map(i => col(s"tf$i") > 0L).reduce(_ && _)
    val sumTf = terms.indices.map(i => col(s"tf$i")).reduce(_ + _)
    val brute = d.filter(all)
      .select(col("doc_id"), sumTf.as("sum_tf"))
      .orderBy(col("sum_tf").desc, col("doc_id").asc)
      .limit(Retrieval.SearchK)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaIndex === brute)
  }

  test("inverted store is laid out by term: per-file term ranges do not overlap") {
    Retrieval.indexTable(spark, sf).count() // force the write
    val ranges = Retrieval.indexTable(spark, sf)
      .groupBy(input_file_name().as("f"))
      .agg(min("term").as("lo"), max("term").as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(ranges.nonEmpty)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"term ranges overlap: [$hi] vs [$lo2]")
    }
  }
}
