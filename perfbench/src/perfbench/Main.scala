package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets a workload up several times, measures
  * it in a closed loop with one client thread, checks its answers and
  * writes everything it saw to `<run>/record.json` (and, when traced,
  * the spans to `<run>/spans.jsonl`).
  *
  * Usage: perfbench.Main --workload W --seed N --cycles C --trace 0|1
  *          --inputs DIR --run DIR --cores N --setups K
  *
  * `--inputs` holds `setup-<k>/` (the inputs of set-up round k, a fresh
  * path each round) and whatever the workload reads while measuring.
  */
object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** A fixed single-thread loop; its time tells host speed apart from
    * code speed. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0.0
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += (x & 0xffff) * 1e-6
      i += 1
    }
    if (acc == 42.0) println("") // keeps the loop from being optimised away
    (System.nanoTime() - t0) / 1e6
  }

  private def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  private def session(cores: Int, run: String, store: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.graft.store.root", store)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val cycles = arg(args, "cycles").toInt
    val trace = arg(args, "trace") == "1"
    val inputs = new File(arg(args, "inputs")).getCanonicalPath
    val run = new File(arg(args, "run")).getCanonicalPath
    val cores = arg(args, "cores").toInt
    val setups = arg(args, "setups").toInt

    val calStart = calibrate()
    val loadStart = loadavg
    val w = Workload(workload, inputs)

    // set-up rounds: each a new session, a fresh input path and a fresh
    // store root; the last one is measured
    var spark: SparkSession = null
    var probe: Probe = null
    val setupS = (0 until setups).map { k =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val store = s"$run/store-$k"
      spark = session(cores, run, store)
      probe = new Probe(spark, inputs, store)
      w.setup(spark, probe, s"$inputs/setup-$k")
      (System.nanoTime() - t0) / 1e9
    }

    val warmS = { val t0 = System.nanoTime(); w.warm(spark, probe); (System.nanoTime() - t0) / 1e9 }

    // closed loop: a fixed number of whole cycles, so every pass of every
    // run measures the same multiset of operations however fast they run
    val rng = new Random(seed)
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def measure(pass: String): (Double, Long) = {
      probe.pass = pass
      val gc0 = gcMs
      val t0 = System.nanoTime()
      (0 until cycles).foreach { _ =>
        try w.cycle(spark, probe, rng)
        catch { case e: Throwable => errors += s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      ((System.nanoTime() - t0) / 1e9, gcMs - gc0)
    }
    val passes = scala.collection.mutable.LinkedHashMap("measure" -> measure("measure"))
    if (trace) {
      probe.startTracing()
      passes("traced") = measure("traced")
    }
    val extra = w.extra(spark, probe)
    probe.stopTracing()
    // a second untraced pass brackets the traced one, so the tracing
    // overhead is not confounded with the JIT still warming
    if (trace) passes("after") = measure("after")
    // heap still reachable after measuring: stores' metadata, memos,
    // caches. Spark's cleaner releases shuffle and broadcast blocks only
    // after a collection finds them unreachable, hence a second one.
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    probe.pass = "verify"
    val verify0 = System.nanoTime()
    val (oracles, checks) =
      try w.verify(spark, probe, s"$run/verify")
      catch { case e: Throwable =>
        (Nil, Seq(Check("verify", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")))
      }
    val verifyS = (System.nanoTime() - verify0) / 1e9
    val calEnd = calibrate()

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""workload":${q(workload)},"seed":$seed,"""
    out ++= s""""env":{"nproc":$cores,"master":"local[$cores]","spark":${q(spark.version)},"""
    out ++= s""""loadavg_start":${num(loadStart)},"loadavg_end":${num(loadavg)},"""
    out ++= s""""calibration_ms_start":${num(calStart)},"calibration_ms_end":${num(calEnd)},"""
    out ++= s""""peak_rss_mb":${num(peakRssMb)},"heap_live_mb":${num(heapLiveMb)}},"""
    out ++= s""""setup_rounds_s":${setupS.map(num).mkString("[", ",", "]")},"""
    out ++= s""""warm_s":${num(warmS)},"verify_s":${num(verifyS)},"""
    out ++= passes.map { case (name, (wall, gc)) =>
      s"""${q(name)}:{"wall_s":${num(wall)},"gc_ms":$gc}"""
    }.mkString(""""passes":{""", ",", "},")
    out ++= probe.ops.map { o =>
      s"""{"id":${o.id},"kind":${q(o.kind)},"pass":${q(o.pass)},""" +
        s""""latency_ms":${num(o.latencyNs / 1e6)},"rows_out":${o.rowsOut},"failed":${o.failed}}"""
    }.mkString(""""ops":[""", ",", "],")
    out ++= probe.counts.toSeq.sortBy(_._1).map { case (id, c) =>
      s""""$id":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_duration_ms":${c.taskDurationMs},"run_time_ms":${c.runTimeMs},""" +
        s""""bytes_read":${c.bytesRead},"records_read":${c.recordsRead},""" +
        s""""shuffle_read":${c.shuffleRead},"shuffle_write":${c.shuffleWrite},""" +
        s""""spill":${c.spill},"bytes_written":${c.bytesWritten},""" +
        s""""raw_rows_read":${c.rawRowsRead},"store_rows_read":${c.storeRowsRead},""" +
        s""""unattributed_jobs":${c.unattributedJobs}}"""
    }.mkString(""""counts":{""", ",", "},")
    out ++= probe.streamProgress.map { m =>
      m.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    }.mkString(""""stream_progress":[""", ",", "],")
    out ++= extra.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString(""""extra":{""", ",", "},")
    out ++= oracles.map { o =>
      s"""{"name":${q(o.name)},"path":${q(o.path)},"sql":${q(o.sql)},"data":${q(o.data)}}"""
    }.mkString(""""oracle":[""", ",", "],")
    out ++= checks.map { c =>
      s"""{"name":${q(c.name)},"ok":${c.ok},"detail":${q(c.detail)}}"""
    }.mkString(""""checks":[""", ",", "],")
    out ++= errors.map(q).mkString(""""errors":[""", ",", "]")
    out ++= "}"
    val pw = new PrintWriter(s"$run/record.json", "UTF-8")
    try pw.println(out.toString) finally pw.close()

    if (trace) {
      val sw = new PrintWriter(s"$run/spans.jsonl", "UTF-8")
      try probe.spans.foreach { s =>
        sw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":${q(s.layer)},""" +
          s""""name":${q(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      } finally sw.close()
    }
    spark.stop()
  }
}
