package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SparkFixture.{sf, spark}

/** Runtime filtering posture (round 12) — the two Spark mechanisms that
  * stand in for the reference's read-time row selection
  * (dataset/row_selection.go) when the selective predicate is only
  * known AT RUNTIME from the other side of a join:
  *
  *  - runtime BLOOM-FILTER join pruning: for a shuffle join with a
  *    selective creation side, the optimizer injects a bloom-filter
  *    aggregate on that side and a `bloom_filter_might_contain` guard
  *    on the application side's scan, cutting shuffled fact rows before
  *    the exchange — at 100 TB the difference between shuffling the
  *    fact table and shuffling the matching slice. (Thresholds here are
  *    tuned down because the fixture is KBs; production defaults are
  *    10MB creation / 10GB application sides.)
  *  - DYNAMIC PARTITION PRUNING: a date-partitioned store joined on its
  *    partition column against a filtered dimension plans a
  *    `dynamicpruningexpression` partition filter — only matching date
  *    partitions are listed and read, the runtime twin of static
  *    partition pruning.
  *
  * Both assert bit-identical results vs the unfiltered plan — runtime
  * filters must never change rows, only skip work.
  */
class RuntimeFilterSpec extends AnyFunSuite {

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    def q(s: org.apache.spark.sql.SparkSession) = {
      val ord = Tables.orders(s, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      Tables.lineitem(s, sf)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"))
    }
    val tuned = q(s2)
    val plan = tuned.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("bloom"),
      s"selective shuffle join must inject a runtime bloom filter:\n${plan.take(2000)}")
    val rows = tuned.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val want = q(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rows === want, "the runtime filter must not change results")
  }

  test("dynamic partition pruning fires on the date-partitioned store") {
    val store = SparkFixture.tmp("test_dpp_fact")
    val dimStore = SparkFixture.tmp("test_dpp_dim")
    if (!new java.io.File(s"$store/_SUCCESS").isFile) {
      Tables.events(spark, sf)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("date"))
        .write.mode("overwrite").partitionBy("date").parquet(store)
      spark.range(10)
        .select(expr("date_add(date'2024-01-01', cast(id as int))").as("d"),
          (col("id") % 3).as("cls"))
        .write.mode("overwrite").parquet(dimStore)
    }
    val fact = spark.read.parquet(store)
    val dim = spark.read.parquet(dimStore).filter(col("cls") === 1)
    val j = fact.join(dim, col("date") === col("d"))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"partition-column join with a filtered dim must plan DPP:\n${plan.take(2000)}")
    // results equal a statically-pruned reference
    val dates = dim.collect().map(_.getDate(0))
    val ref = fact.filter(col("date").isin(dates: _*))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(j.exceptAll(ref).count() === 0 && ref.exceptAll(j).count() === 0)
    assert(j.count() > 0, "fixture must select rows")
  }
}
