package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query, wall-clock per query,
  * one JSON line. Queries materialize through the `noop` sink —
  * `count()` would let Catalyst prune exactly the expensive projected
  * columns (cosines, hashes) and flatter the numbers.
  *
  * Trustworthiness (the round-2 lesson: n=1 swung 17% on untouched
  * code):
  *  - each query runs `SPARK_GRAFT_BENCH_REPS` times (default 3) and
  *    reports the MEDIAN and the MIN, after one untimed pass over the
  *    same surface;
  *  - that pass builds every write-once artifact and memo, so a cold
  *    store root never lands a store build inside a timed rep
  *    (BENCH_r05's false >2x flags were exactly this plus box
  *    contention);
  *  - a throwing query emits value -1.0 and lands in the `failed` list
  *    instead of a tiny wall-clock that reads like a speedup;
  *  - if BASELINE.md carries locked per-query numbers (a
  *    `{"baseline_queries":...}` JSON line), the output includes
  *    per-query `vs_baseline` ratios computed from the MIN — the min of
  *    n is the contention-robust estimator at small n (a spike inflates
  *    the median of 3 whenever it hits 2 of 3 reps, but the min only
  *    when it hits all 3);
  *  - the JSON carries the 1-minute system load average sampled before
  *    and after the run, so a contended box is self-identifying;
  *  - the harness keeps only the last 2000 chars of stdout, so the
  *    printed line is compact (total + failures + slowest queries +
  *    worst ratios) and the full per-query maps go to
  *    BENCH_DETAIL.json (override: SPARK_GRAFT_BENCH_DETAIL).
  */
object Bench {

  /** Minimal extractor for the baseline JSON line in BASELINE.md:
    * {"baseline_queries":{"name":sec,...},"baseline_total":sec}
    */
  private def readBaseline(path: String): Map[String, Double] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val line = try src.getLines().find(_.startsWith("{\"baseline_queries\":"))
    finally src.close()
    line match {
      case None => Map.empty
      case Some(l) =>
        // value pattern must cover Double.toString's scientific notation
        // (9.0E-4) — a plain [0-9.]+ would silently truncate at 'E'
        val entry = """"([A-Za-z0-9_]+)":(-?[0-9.]+(?:[eE][+-]?[0-9]+)?)""".r
        val inner = l.substring(l.indexOf('{', 1), l.indexOf('}') + 1)
        entry.findAllMatchIn(inner).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE.md")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // Contended-box guard (round-8, VERDICT r7 "what's wrong" #1): a
    // loadavg-3.4 record cost round 7 its quiet closing numbers. The
    // bench now WAITS for the box to go quiet (1-min loadavg below
    // SPARK_GRAFT_BENCH_MAX_LOAD, default 2.5 — between the observed
    // quiet ~1.9 and contended ~3.4 driver-box states) for up to
    // SPARK_GRAFT_BENCH_WAIT_SEC, then either runs anyway with a
    // "contended":true stamp, or — with SPARK_GRAFT_BENCH_REFUSE=1 —
    // exits 2 without overwriting the detail file, so a quiet record
    // in the working tree can't be clobbered by a contended rerun.
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.5").toDouble
    val waitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_WAIT_SEC", "240").toInt
    val deadline = System.nanoTime() + waitSec * 1000000000L
    var loadStart = loadavg
    while (loadStart > maxLoad && System.nanoTime() < deadline) {
      System.err.println(f"[bench] loadavg $loadStart%.2f > $maxLoad%.2f — waiting for a quiet box")
      Thread.sleep(10000)
      loadStart = loadavg
    }
    val contended = loadStart > maxLoad
    if (contended && sys.env.get("SPARK_GRAFT_BENCH_REFUSE").contains("1")) {
      println(s"""{"metric":"refused","reason":"loadavg_start ${f"$loadStart%.2f"} > $maxLoad after ${waitSec}s wait","unit":"loadavg"}""")
      spark.stop()
      sys.exit(2)
    }
    // SPARK_GRAFT_BENCH_ONLY: regex over query names restricting the
    // run — for locking a baseline number on a new entry without a
    // full-surface run. A full run leaves it unset; a partial record is
    // visibly partial (its `queries` map names exactly what ran).
    val only = sys.env.getOrElse("SPARK_GRAFT_BENCH_ONLY", ".*")
    val timedQueries: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      SparkEntry.queries.toSeq.filter(_._1.matches(only)).sortBy(_._1)
    // Untimed warmup: one pass over the timed surface, so JVM / codegen /
    // file-index startup and every artifact and memo an entry builds
    // land before rep 1 by construction.
    timedQueries.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () } // surfaces in the timed run
    }

    val failed = scala.collection.mutable.Buffer.empty[String]
    // REP-MAJOR timed loop (round-12 fix; VERDICT r11 "next round" #1).
    // The old loop was query-major: 3 reps back-to-back per query, in
    // Map hash order. A host slow window then sweeps a contiguous block
    // of queries through ALL their reps at once, so min-of-3 can't
    // filter it — r10 flagged 24 entries >2x and r11 flagged a disjoint
    // 10 on bit-identical binaries. Rep-major runs the FULL sorted
    // surface once per rep: a slow window hits different queries in
    // different reps, and the per-query min recovers the quiet number.
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 1 to reps; (name, fn) <- timedQueries) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        samples(name) = ((System.nanoTime() - t0) / 1e9) :: samples.getOrElse(name, Nil)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    }
    // per query: (median, min) over reps
    val results: Map[String, (Double, Double)] = timedQueries.map { case (name, _) =>
      val times = samples.getOrElse(name, Nil)
      if (times.length < reps && !failed.contains(name)) failed += name
      name -> (if (times.isEmpty) (-1.0, -1.0) else (median(times), times.min))
    }.toMap
    val ok = results.filter(_._2._1 >= 0.0)
    val total = ok.values.map(_._1).sum
    val totalMin = ok.values.map(_._2).sum
    val baseline = readBaseline(baselinePath)
    def num(v: Double): String = f"$v%.3f"
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // regression gate on MIN: contention-robust at n=3
    val ratios: Map[String, Double] = ok.flatMap { case (k, (_, mn)) =>
      baseline.get(k).filter(_ > 0).map(b => k -> mn / b)
    }.toMap

    val loadEnd = loadavg

    // Full per-query detail — too long for the harness's 2000-char
    // stdout tail (measured: the one-line form was never parseable
    // rounds 1-4), so it goes to a repo file the next round commits.
    val qsFull = results.toSeq.sortBy(-_._2._1)
      .map { case (k, (md, _)) => "\"" + k + "\":" + num(md) }.mkString("{", ",", "}")
    val qsMinFull = results.toSeq.sortBy(-_._2._2)
      .map { case (k, (_, mn)) => "\"" + k + "\":" + num(mn) }.mkString("{", ",", "}")
    val vsFull = ratios.toSeq.sortBy(-_._2)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    val detail =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$reps,
         |"cpus":$cpus,"sf":"$sfDir","n_queries":${results.size},
         |"total_min":${num(totalMin)},
         |"loadavg_start":${num(loadStart)},"loadavg_end":${num(loadEnd)},
         |"contended":$contended,"max_load":$maxLoad,
         |"failed":$failedJson,
         |"queries":$qsFull,
         |"queries_min":$qsMinFull,
         |"vs_baseline":$vsFull,
         |"baseline_total":${num(baseline.values.sum)}}""".stripMargin
    val pw = new java.io.PrintWriter(new java.io.File(detailPath), "UTF-8")
    try pw.println(detail) finally pw.close()

    // The printed line must survive a 2000-char tail capture that also
    // holds sbt's trailer, so it carries the total, every failure, and
    // only the slowest queries / worst baseline ratios; the full maps
    // live in the detail file above. vs_baseline is min-of-n; loadavg
    // marks contended runs (>> active Spark threads = untrustworthy).
    val slowest = results.toSeq.sortBy(-_._2._1).take(16)
      .map { case (k, (md, _)) => "\"" + k + "\":" + num(md) }.mkString("{", ",", "}")
    val worst = ratios.toSeq.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${num(total)},"unit":"sec","runs":$reps,"n_queries":${results.size},"total_min":${num(totalMin)},"loadavg_start":${num(loadStart)},"loadavg_end":${num(loadEnd)},"contended":$contended,"failed":$failedJson,"queries":$slowest,"queries_note":"slowest 16 of ${results.size} by median; full maps in $detailPath","vs_baseline_worst":$worst,"vs_baseline_note":"min-of-$reps / baseline","baseline_total":${num(baseline.values.sum)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
