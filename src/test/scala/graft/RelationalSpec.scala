package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import SparkFixture.{sf, spark, planOf}

class RelationalSpec extends AnyFunSuite {

  test("q1Pricing counts cover the filtered lineitem exactly") {
    val df = Relational.q1Pricing(spark, sf)
    val total = df.agg(sum("count_order")).collect()(0).getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("2000-09-02 00:00:00").cast("timestamp"))
      .count()
    assert(total === expected)
    // avg_qty must equal sum_qty / count_order (exact decimal path)
    val bad = df.filter(abs(col("avg_qty") - col("sum_qty") / col("count_order")) > 1e-9)
    assert(bad.count() === 0)
  }

  test("q3Shipping is a deterministic top-10 by revenue") {
    val rows = Relational.q3Shipping(spark, sf).collect()
    assert(rows.length <= 10)
    val revs = rows.map(_.getDouble(2))
    assert(revs.zip(revs.tail).forall { case (a, b) => a >= b }, "revenue must be non-increasing")
  }

  test("q5Local uses broadcast joins for every dimension") {
    val plan = planOf(Relational.q5Local(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(Relational.q5Local(spark, sf).count() > 0)
  }

  test("windowRank keeps at most 3 orders per customer, rank-ordered by price") {
    val df = Relational.windowRank(spark, sf)
    assert(df.groupBy("o_custkey").count().filter(col("count") > 3).count() === 0)
    val viol = df.as("a").join(df.as("b"),
      col("a.o_custkey") === col("b.o_custkey") &&
        col("a.rnk") < col("b.rnk") && col("a.o_totalprice") < col("b.o_totalprice"))
    assert(viol.count() === 0)
  }

  test("ordersEnrich accounts for every order exactly once") {
    val total = Relational.ordersEnrich(spark, sf).agg(sum("n_orders")).collect()(0).getLong(0)
    assert(total === Tables.orders(spark, sf).count())
  }

  test("saltedJoin enriches every event exactly once via a shuffled join") {
    val df = Relational.saltedJoin(spark, sf)
    assert(df.count() === Tables.events(spark, sf).count())
    assert(df.select("event_id").distinct().count() === df.count())
    val plan = planOf(df)
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"), plan)
  }

  test("asofJoin matches a brute-force latest-at-or-before computation") {
    val df = Relational.asofJoin(spark, sf)
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("click_us"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), unix_micros(col("ts")).as("pus"),
        col("event_id").as("pid"), col("value").as("pv"))
    // brute force: all pairs, rank by (ts, event_id) desc, keep top-1
    val pairs = clicks.join(purch,
      col("cu") === col("pu") && col("pus") <= col("click_us"), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_id").orderBy(col("pus").desc, col("pid").desc)
    val brute = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("cu").as("user_id"), col("click_us"),
        col("pus").as("purchase_us"), col("pv").as("purchase_value"))
    assert(df.count() === clicks.count())
    // both directions explicitly: equality must not lean on the
    // one-row-per-click invariant holding forever
    assert(df.exceptAll(brute).count() === 0,
      "as-of result has rows the brute-force ranking lacks")
    assert(brute.exceptAll(df).count() === 0,
      "brute-force ranking has rows the as-of result lacks")
    // the scale contract: no pair join in the plan — one shuffle on the
    // key, a window, never a NestedLoop/Cartesian
    val plan = planOf(df)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("RunningWindowFunction") || plan.contains("Window"), plan)
  }

  test("asofTolerance keeps only matches within the hour, inner") {
    val df = Relational.asofTolerance(spark, sf)
    assert(df.filter(col("purchase_us").isNull).count() === 0)
    assert(df.filter(col("click_us") - col("purchase_us") > 3600L * 1000000L)
      .count() === 0)
    assert(df.filter(col("purchase_us") > col("click_us")).count() === 0)
    // tolerance output is a subset of the untolerated as-of
    val full = Relational.asofJoin(spark, sf)
    assert(df.exceptAll(full).count() === 0)
  }

  test("asofTolerance at a non-default knob (15 min): tighter subset, bound honored") {
    val df = Relational.asofTolerance(spark, sf, toleranceSec = 900L)
    assert(df.count() > 0)
    assert(df.filter(col("click_us") - col("purchase_us") > 900L * 1000000L)
      .count() === 0)
    // independent truth: "latest within 15 min" == the full as-of match
    // kept only when it lands inside the window (latest is maximal)
    val want = Relational.asofJoin(spark, sf)
      .filter(col("purchase_us").isNotNull &&
        col("click_us") - col("purchase_us") <= 900L * 1000000L)
    assert(df.exceptAll(want).count() === 0)
    assert(want.exceptAll(df).count() === 0)
  }

  test("intervalJoin at a non-default knob (15 min) equals the naive range join") {
    val df = Relational.intervalJoin(spark, sf, widthSec = 900L)
    val ev = Tables.events(spark, sf)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("value"))
    val naive = purch.join(clicks,
        col("user_id") === col("cu") && col("c_ts") >= col("p_ts") &&
          col("c_ts") < col("p_ts") + expr("INTERVAL 15 MINUTE"))
      .groupBy("purchase_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("click_value_sum"))
    assert(df.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(df).count() === 0)
  }

  test("intervalJoin: banded equi-join equals the naive range join") {
    val df = Relational.intervalJoin(spark, sf)
    val ev = Tables.events(spark, sf)
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("c_ts"), col("value"))
    val naive = purch.join(clicks,
        col("user_id") === col("cu") && col("c_ts") >= col("p_ts") &&
          col("c_ts") < col("p_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("purchase_id", "user_id")
      .agg(count(lit(1)).as("n_clicks"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("click_value_sum"))
    assert(df.exceptAll(naive).count() === 0,
      "banded join has rows the naive range join lacks")
    assert(naive.exceptAll(df).count() === 0,
      "naive range join has rows the banded join lacks")
    // the band turns the range join into an equi hash/merge join: the
    // join keys include the bin, so no NestedLoop appears
    val plan = planOf(df)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("semiAnti: tags are consistent with direct predicates") {
    val df = Relational.semiAnti(spark, sf)
    val pendingCust = Tables.orders(spark, sf)
      .filter(col("o_orderstatus") === "P").select("o_custkey").distinct()
    val noPending = df.filter(col("tag") === "no_pending")
    assert(noPending.join(pendingCust,
      noPending("c_custkey") === pendingCust("o_custkey")).count() === 0)
    val plan = planOf(df)
    assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"), plan)
  }

  test("rollupRevenue: levels are consistent and run as one Expand pass") {
    val plan = planOf(Relational.rollupRevenue(spark, sf))
    assert("""\(\d+\) Expand""".r.findAllIn(plan).length === 1, plan)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).length === 4, plan)
    val df = Relational.rollupRevenue(spark, sf).localCheckpoint()
    // grand total (gid=3) equals the sum of the leaf level (gid=0)
    val grand = df.filter(col("gid") === 3).collect()
    assert(grand.length === 1)
    val leafOrders = df.filter(col("gid") === 0)
      .agg(sum("n_orders")).collect()(0).getLong(0)
    assert(grand(0).getAs[Long]("n_orders") === leafOrders)
    assert(leafOrders === Tables.orders(spark, sf).count())
    // per-region level (gid=1) reaggregates its leaves exactly
    val regionFromLeaves = df.filter(col("gid") === 0)
      .groupBy("r_name").agg(sum("n_orders").as("n"))
    val mismatch = df.filter(col("gid") === 1).join(regionFromLeaves, "r_name")
      .filter(col("n_orders") =!= col("n"))
    assert(mismatch.count() === 0)
  }

  test("cubeEvents covers all 4 grouping sets over the full event count") {
    val df = Relational.cubeEvents(spark, sf).localCheckpoint()
    val total = Tables.events(spark, sf).count()
    for (gid <- 0 to 3) {
      val n = df.filter(col("gid") === gid)
        .agg(sum("n_events")).collect()(0).getLong(0)
      assert(n === total, s"gid=$gid level must cover every event")
    }
  }

  test("windowRangeFrame equals the brute-force time-band self-join") {
    val df = Relational.windowRangeFrame(spark, sf)
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
    val brute = ev.as("a").join(ev.as("b"),
      col("a.user_id") === col("b.user_id") &&
        col("b.ts_us") >= col("a.ts_us") - 3600000000L &&
        col("b.ts_us") <= col("a.ts_us"))
      .groupBy(col("a.user_id").as("user_id"), col("a.event_id").as("event_id"),
        col("a.ts_us").as("ts_us"))
      .agg(count(lit(1)).as("n_1h"),
        sum(col("b.value").cast("decimal(30,6)")).cast("double").as("sum_1h"))
    assert(df.exceptAll(brute).isEmpty && brute.exceptAll(df).isEmpty)
  }

  test("windowNtile: quartiles are balanced, ranks bounded") {
    val df = Relational.windowNtile(spark, sf).localCheckpoint()
    // ntile(4) sizes within an event_type differ by at most 1
    val sizes = df.groupBy("event_type", "quartile").count()
      .groupBy("event_type")
      .agg(max("count").as("mx"), min("count").as("mn"),
        countDistinct("quartile").as("nq"))
    assert(sizes.filter(col("mx") - col("mn") > 1).count() === 0)
    assert(sizes.filter(col("nq") =!= 4).count() === 0)
    // percent_rank/cume_dist live in [0,1], cume_dist hits 1 at the top
    assert(df.filter(col("pct_rank") < 0 || col("pct_rank") > 1 ||
      col("cume") <= 0 || col("cume") > 1).count() === 0)
    val tops = df.groupBy("event_type").agg(max("cume").as("m"))
    assert(tops.filter(col("m") =!= 1.0).count() === 0)
  }

  test("pivotEventCounts: row sums equal per-user event counts, no distinct pre-pass") {
    val df = Relational.pivotEventCounts(spark, sf)
    val rowSums = df.select(col("user_id"),
      (col("click") + col("view") + col("purchase") + col("signup") +
        col("error")).as("n"))
    val perUser = Tables.events(spark, sf).groupBy("user_id").count()
    val mismatch = rowSums.join(perUser, "user_id")
      .filter(col("n") =!= col("count"))
    assert(mismatch.count() === 0)
    assert(rowSums.count() === perUser.count())
  }

  test("groupingSets is exactly the cube minus its grand total, one Expand") {
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.get(0)), Option(r.get(1)), r.getLong(2), r.getLong(3),
        r.getDouble(4))
    val gs = Relational.groupingSetsEvents(spark, sf).collect().map(key).toSet
    val cubeNoTotal = Relational.cubeEvents(spark, sf)
      .filter(col("gid") =!= 3L).collect().map(key).toSet
    assert(gs === cubeNoTotal)
    assert(gs.exists(_._3 == 0L) && gs.exists(_._3 == 1L) &&
      gs.exists(_._3 == 2L) && !gs.exists(_._3 == 3L))
    // one Expand feeding one aggregation — never a per-set re-scan
    val plan = planOf(Relational.groupingSetsEvents(spark, sf))
    assert("Expand".r.findAllIn(plan).length >= 1)
    assert("Exchange hashpartitioning".r.findAllIn(plan).length <= 1,
      s"grouping sets must aggregate in one shuffle:\n$plan")
  }

  test("q4Priority: EXISTS plans as one semi join, counts match a distinct-join") {
    val df = Relational.q4Priority(spark, sf)
    val plan = planOf(df)
    assert(plan.contains("LeftSemi"), s"EXISTS must plan as a semi join:\n$plan")
    val ref = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-04-01 00:00:00").cast("timestamp"))
      .join(Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R")
        .select("l_orderkey").distinct(),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("order_count"))
    assert(df.exceptAll(ref).count() === 0 && ref.exceptAll(df).count() === 0)
  }

  test("q6Forecast: every predicate reaches the parquet scan") {
    val plan = planOf(Relational.q6Forecast(spark, sf))
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.03)"), plan)
    assert(plan.contains("LessThanOrEqual(l_discount,0.07)"), plan)
    assert(plan.contains("LessThan(l_quantity,24.0)"), plan)
    assert(plan.contains("l_shipdate"), plan) // both date bounds pushed
    assert(Relational.q6Forecast(spark, sf).collect()(0).getDouble(0) > 0.0)
  }

  test("q12Priority: high + low = all joined lines in the window") {
    val df = Relational.q12Priority(spark, sf)
    val total = df.agg(sum(col("high_line_count") + col("low_line_count")))
      .collect()(0).getLong(0)
    val expected = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .count()
    assert(total === expected)
  }

  test("q14Promo and q19Discount broadcast the part dimension") {
    val p14 = planOf(Relational.q14Promo(spark, sf))
    assert(p14.contains("BroadcastHashJoin"), p14)
    val share = Relational.q14Promo(spark, sf).collect()(0).getDouble(0)
    assert(share > 0.0 && share < 100.0)
    val p19 = planOf(Relational.q19Discount(spark, sf))
    assert(p19.contains("BroadcastHashJoin"), p19)
    // the per-side residue of the OR-of-ANDs prunes the part scan
    assert(p19.contains("Brand#12"), s"brand disjunction should reach a scan:\n$p19")
    assert(Relational.q19Discount(spark, sf).collect()(0).getDouble(0) > 0.0)
  }

  test("custDist: distribution sums to all customers, zero bucket kept") {
    val rows = Relational.custDist(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nCust = Tables.customer(spark, sf).count()
    assert(rows.values.sum === nCust,
      "every customer lands in exactly one count bucket")
    // the LEFT join must surface customers with zero qualifying orders
    val withOrders = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey").distinct().count()
    assert(rows.getOrElse(0L, 0L) === nCust - withOrders)
  }

  test("idleRichCustomers: anti join + exact global threshold") {
    val got = Relational.idleRichCustomers(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val custs = Tables.customer(spark, sf)
      .select("c_custkey", "c_mktsegment", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.round(r.getDouble(2) * 100)))
    val withOrders = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
      .collect().map(_.getLong(0)).toSet
    val pos = custs.filter(_._3 > 0)
    val (sumC, n) = (pos.map(_._3).sum, pos.length.toLong)
    val keep = custs.filter(c =>
      !withOrders.contains(c._1) && c._3 * n > sumC)
    val want = keep.groupBy(_._2).map { case (seg, cs) =>
      (seg, cs.length.toLong, cs.map(_._3).sum.toDouble / 100.0)
    }.toSeq.sortBy(_._1)
    assert(keep.nonEmpty, "fixture has idle above-average customers")
    assert(got.toSeq === want)
    // the scalar side is a broadcast, not a shuffle: no shuffle
    // exchange between the scan and the threshold filter
    val plan = Relational.idleRichCustomers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), s"scalar must broadcast:\n$plan")
  }

  test("smallQtyRevenue equals the correlated-subquery reference") {
    val got = Relational.smallQtyRevenue(spark, sf).collect()(0).getDouble(0)
    val li = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf).filter(col("p_brand") === "Brand#3"),
        col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice").collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong, r.getDouble(2)))
    val stats = li.groupBy(_._1).map { case (k, rows) =>
      k -> (rows.map(_._2).sum, rows.length.toLong)
    }
    val keep = li.filter { case (k, q, _) =>
      val (s, n) = stats(k); 5L * q * n < s
    }
    val want = keep.map(r => BigDecimal(r._3)).sum.toDouble / 7.0
    assert(keep.nonEmpty, "threshold keeps some rows at the fixture corpus")
    assert(got === want)
  }

  test("largeVolumeCustomers equals the HAVING-subquery reference") {
    val got = Relational.largeVolumeCustomers(spark, sf).collect()
      .map(r => (r.getLong(2), r.getLong(5)))
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity").collect()
      .map(r => (r.getLong(0), r.getDouble(1).toLong))
    val want = li.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .filter(_._2 > 250L).toMap
    assert(got.nonEmpty, "threshold keeps some orders at the fixture corpus")
    assert(got.toMap === want.filter(kv => got.toMap.contains(kv._1)))
    assert(got.map(_._1).toSet === want.keySet.intersect(got.map(_._1).toSet))
    // under 100 qualifying orders at sf0.001 the limit must not bind
    if (want.size <= 100) assert(got.length === want.size)
    // top-k pushes through the sort: no global sort materialization
    val plan = planOf(Relational.largeVolumeCustomers(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit+orderBy must compile to TakeOrderedAndProject:\n$plan")
  }

  test("waitingSuppliers equals the double-EXISTS reference") {
    val got = Relational.waitingSuppliers(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_suppkey", "l_returnflag").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2) == "R"))
    val perOrder = li.groupBy(_._1).view.mapValues { rows =>
      val supp = rows.map(_._2).distinct
      val rSupp = rows.filter(_._3).map(_._2).distinct
      (supp.size, rSupp)
    }
    val waits = perOrder.collect {
      case (_, (ns, rs)) if ns >= 2 && rs.size == 1 => rs.head
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val supp = Tables.supplier(spark, sf)
      .join(Tables.nation(spark, sf).filter(col("n_nationkey") % 5 === 3),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_name", "n_name").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2)))).toMap
    val want = waits.toSeq.flatMap { case (sk, n) =>
      supp.get(sk).map { case (sn, nn) => (sn, nn, n) }
    }.sortBy(t => (-t._3, t._1))
    assert(want.nonEmpty, "nation cut keeps some waiting suppliers")
    assert(got.toSeq === want)
    // the EXISTS pair never self-joins: exactly the two aggregate
    // shuffles plus the broadcast dim join
    val plan = planOf(Relational.waitingSuppliers(spark, sf))
    assert(plan.contains("BroadcastExchange"), s"dims must broadcast:\n$plan")
  }
}
