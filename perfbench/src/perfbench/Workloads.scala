package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkEntry
import graft.operators.{ChunkSource, Promql, Scan}
import graft.operators.Promql.EvalSpec
import graft.pipeline.{Curation, Dedup, Retrieval, Similarity}
import graft.plans.ResultCache
import graft.sources.{ChunkStore, DownsampleStore, PartWriter, XorChunk}
import graft.streaming.Ingest

/** A result to compare with a DuckDB oracle: `sql` over the generated
  * tables must equal the parquet rows at `path`. */
final case class OracleCheck(name: String, path: String, sql: String, data: String)

/** A check made inside the JVM. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload does in one run.
  *
  * `setup` runs once per set-up round against a fresh copy of the
  * inputs and a fresh store root, and builds the stores the operations
  * read. `warm` runs once, after the last round, and issues every kind
  * of operation once. `cycle` issues one fixed multiset of operations in
  * a seeded order, one after another; a run measures a fixed number of
  * cycles. `verify` runs untimed after measuring and returns the checks.
  */
trait Workload {
  def setup(s: SparkSession, p: Probe, data: String): Unit
  def warm(s: SparkSession, p: Probe): Unit
  def cycle(s: SparkSession, p: Probe, rng: Random): Unit
  def verify(s: SparkSession, p: Probe, out: String): (Seq[OracleCheck], Seq[Check])
  /** Workload-specific figures for the record. */
  def extra(s: SparkSession, p: Probe): Map[String, Double] = Map.empty
}

object Workload {
  val Day = 86400L
  val Jan1 = 1704067200L

  def apply(name: String, inputs: String): Workload = name match {
    case "dashboard"       => new Dashboard(inputs)
    case "curation-shards" => new CurationShards(inputs)
    case other             => sys.error(s"unknown workload $other")
  }

  def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** Row-for-row equality of two results, ignoring row order. */
  def sameRows(name: String, got: DataFrame, want: DataFrame): Check = {
    val (g, w) = (rows(got), rows(want))
    val bad = g != w
    Check(name, !bad,
      if (bad) s"rows ${g.size} vs ${w.size}, first diff " +
        g.zipAll(w, "", "").find(x => x._1 != x._2).getOrElse(("", ""))
      else s"${g.size} rows equal")
  }

  def writeResult(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Writes `df` for comparison with `entry`'s oracle over `data`. */
  def oracle(name: String, entry: String, df: DataFrame, out: String,
             data: String): OracleCheck =
    oracleSql(name, SparkEntry.oracleSql.getOrElse(entry, ""), df, out, data)

  def oracleSql(name: String, sql: String, df: DataFrame, out: String,
                data: String): OracleCheck = {
    val path = s"$out/${name.replace('/', '_')}"
    writeResult(df, path)
    OracleCheck(name, path, sql, data)
  }

  /** The `q_promql_stepped` oracle (`sum(click)` on an aligned grid with
    * a lookback) re-targeted at another grid. */
  def steppedSql(spec: EvalSpec): String = {
    val base = SparkEntry.oracleSql("q_promql_stepped")
    val grid = "generate_series(1704067200, 1704153600, 3600)"
    val back = "(st.step - 7200)"
    require(base.contains(grid) && base.contains(back),
      "q_promql_stepped oracle no longer has the expected grid")
    base.replace(grid, s"generate_series(${spec.startSec}, ${spec.endSec}, ${spec.stepSec})")
      .replace(back, s"(st.step - ${spec.lookbackSec})")
  }

  /** Items per second of `pass`, which returns the items it handled,
    * repeated on this thread for at least two passes and half a second. */
  def kernelRate(pass: => Long): Double = {
    var n = 0L
    var reps = 0
    val t0 = System.nanoTime()
    while (reps < 2 || System.nanoTime() - t0 < 500000000L) { n += pass; reps += 1 }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length() else 0L
}

/** One kind of request to graft's `operators` module: its name, the
  * call, and the PromQL text it evaluates, if any. */
final case class Req(kind: String, call: SparkSession => DataFrame,
                     promql: String = "")

/** A live PromQL dashboard: instant and stepped queries, rollup-served
  * and chunk-served variants, result-cache refreshes that advance one
  * step, and metadata calls over a month of scrape samples; and, once per
  * cycle, the head's write side: the next scrape batch converted to XOR
  * chunks and the head's parts compacted. */
final class Dashboard(inputs: String) extends Workload {
  import Workload._
  private val head = new Head(inputs)
  private var dir = ""
  private var rollup: SparkSession = _
  private var refresh = 0
  private val CacheStep = 300L
  private val CacheWindow = 6 * 3600L
  private def cacheSpec(k: Int) = {
    val a = Jan1 + 2 * Day + k * CacheStep
    EvalSpec(a, a + CacheWindow, CacheStep, 600L)
  }
  // the grids of the latest seeded panels, for checking their answers
  private var lastRaw, lastRollup: EvalSpec = _

  private val instant = "sum(count_over_time(click[1h]))"
  private val day1 = EvalSpec(1704067200L, 1704153600L, 3600L, 7200L)

  /** Entry-backed requests: the name is the entry whose oracle applies. */
  private def fixed: Seq[Req] = Seq(
    Req("raw/q_promql_sum", s => Promql.query(s, dir, instant), promql = instant),
    Req("raw/q_promql_sql_tvf", s => s.sql(
      s"SELECT * FROM promql('$instant', '$dir')"), promql = instant),
    Req("raw/q_promql_range_tvf", s => s.sql(
      s"SELECT * FROM promql_range('sum(click)', '$dir', 1704067200, 1704153600, 3600, 7200)"),
      promql = "sum(click)"),
    Req("raw/q_promql_stepped_rate",
      s => Promql.queryAt(s, dir, "rate(click[1h])", day1), promql = "rate(click[1h])"),
    Req("meta/q_label_values",
      s => Scan.labelValues(s, dir, "user_id", Seq(("event_type", "=", "click")))),
    Req("meta/q_series_select", s => Scan.seriesSelect(s, dir)),
    Req("meta/q_label_names", s => Scan.labelNames(s, dir)),
    Req("rollup/q_promql_rollup_stepped",
      _ => Promql.queryAt(rollup, dir, "sum(click)", day1), promql = "sum(click)"),
    Req("rollup/q_promql_rollup_rate",
      _ => Promql.queryAt(rollup, dir, "rate(click[1h])", day1), promql = "rate(click[1h])"),
    Req("chunk/q_promql_chunks_stepped",
      s => Promql.queryAt(s, dir, "sum(click)", day1, ChunkSource), promql = "sum(click)"))

  /** Traced runs also time `Promql.parse` on its own: the query calls
    * parse internally, where it cannot be timed from outside. */
  private def parse(p: Probe, q: String): Unit =
    if (p.tracing) p.span("operators", "promql_parse")(Promql.parse(q))

  def setup(s: SparkSession, p: Probe, data: String): Unit = {
    dir = data
    refresh = 0
    ChunkStore.table(s, dir)
    DownsampleStore.table(s, dir)
    rollup = s.newSession()
    rollup.conf.set("spark.graft.rollup.rewrite", "true")
    head.setup(s"$data-head")
  }

  /** Fills the result cache's first window, then issues every kind of
    * request once and the head's write step. */
  override def warm(s: SparkSession, p: Probe): Unit = {
    ResultCache.queryCached(s, dir, "sum(click)", cacheSpec(0)).collect()
    (requests(s, p, new Random(0)) :+ (() => head.step(s, p))).foreach(_())
  }

  /** Each kind of request twice, in a seeded order, with the head's write
    * step at a seeded position. */
  def cycle(s: SparkSession, p: Probe, rng: Random): Unit =
    rng.shuffle(requests(s, p, rng) ++ requests(s, p, rng) :+ (() => head.step(s, p)))
      .foreach(_())

  /** One request of every kind: the entry-backed ones, two panels at
    * seeded times, and three result-cache refreshes. */
  private def requests(s: SparkSession, p: Probe, rng: Random): Seq[() => Unit] = {
    val seeded = Seq[() => Unit](
      () => {
        // a raw six-hour panel at a seeded start
        val a = Jan1 + (1 + rng.nextInt(28)) * Day + rng.nextInt(18) * 3600L
        val spec = EvalSpec(a, a + 21600L, 300L, 600L)
        lastRaw = spec
        p.op("raw/stepped_seeded") {
          parse(p, "sum(click)")
          p.run("operators")(Promql.queryAt(s, dir, "sum(click)", spec))
        }
      },
      () => {
        // a rollup-served day panel at a seeded day
        val a = Jan1 + (1 + rng.nextInt(28)) * Day
        val spec = EvalSpec(a, a + Day, 3600L, 7200L)
        lastRollup = spec
        p.op("rollup/stepped_seeded") {
          parse(p, "sum(click)")
          p.run("operators")(Promql.queryAt(rollup, dir, "sum(click)", spec))
        }
      }) ++ Seq.fill(3)(() => {
        refresh += 1
        val spec = cacheSpec(refresh)
        p.op("cache/refresh") {
          p.run("plans")(ResultCache.queryCached(s, dir, "sum(click)", spec))
        }
        ()
      })
    fixed.map(r => () => {
      p.op(r.kind) {
        if (r.promql.nonEmpty) parse(p, r.promql)
        p.run("operators")(r.call(s))
      }
      ()
    }) ++ seeded
  }

  /** Checks the answers the last measured operations returned. */
  def verify(s: SparkSession, p: Probe, out: String): (Seq[OracleCheck], Seq[Check]) = {
    val oracles = fixed.map(r => oracle(r.kind, r.kind.split('/')(1), p.answer(r.kind), out, dir)) ++
      Seq(oracleSql("raw/stepped_seeded", steppedSql(lastRaw), p.answer("raw/stepped_seeded"),
          out, dir),
        oracleSql("rollup/stepped_seeded", steppedSql(lastRollup),
          p.answer("rollup/stepped_seeded"), out, dir))
    val checks = Seq(
      sameRows("cache/refresh equals raw queryAt", p.answer("cache/refresh"),
        Promql.queryAt(s, dir, "sum(click)", cacheSpec(refresh))),
      sameRows("rollup/stepped_seeded equals raw queryAt", p.answer("rollup/stepped_seeded"),
        Promql.queryAt(s, dir, "sum(click)", lastRollup)),
      sameRows("rollup/q_promql_rollup_stepped equals raw promql_range",
        p.answer("rollup/q_promql_rollup_stepped"), p.answer("raw/q_promql_range_tvf")))
    (oracles, checks ++ head.verify(s))
  }

  /** XOR decode as a kernel: every chunk of the store decoded on one
    * thread, samples per second. */
  override def extra(s: SparkSession, p: Probe): Map[String, Double] =
    if (!p.tracing) head.extra(s, p)
    else {
      val chunks = ChunkStore.table(s, dir).select("chunk").collect().map(_.getAs[Array[Byte]](0))
      head.extra(s, p) +
        ("xor_decode_samples_per_s" -> kernelRate(chunks.map(XorChunk.decode(_).length.toLong).sum))
    }
}

/** The dashboard's live head: each step lands the next scrape batch,
  * converts it with one `Ingest.chunkConvert` call into the next part
  * and compacts the parts. */
final class Head(inputs: String) {
  import Workload._
  private val batches = Option(new File(s"$inputs/batches").listFiles()).getOrElse(Array.empty)
    .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
  private var next = 0
  private var root = ""
  private val landed = mutable.ArrayBuffer.empty[File]
  private val partBytes = mutable.ArrayBuffer.empty[Long]
  private val inputBytes = mutable.ArrayBuffer.empty[Long]
  private val compactBytes = mutable.ArrayBuffer.empty[Long]
  private var landedSamples, compactedSamples = 0L

  private def inbox = s"$root/inbox"
  private def out = s"$root/parts"
  private def ckpt = s"$root/checkpoint"

  def setup(data: String): Unit = {
    root = data
    landed.clear()
    landedSamples = 0L
    new File(inbox).mkdirs()
  }

  /** Lands, converts and compacts the next batch. */
  def step(s: SparkSession, p: Probe): Unit = {
    val b = batches(next)
    next += 1
    Files.copy(b.toPath, Paths.get(inbox, b.getName), StandardCopyOption.REPLACE_EXISTING)
    landed += b
    val samples = s.read.parquet(b.getPath).count()
    landedSamples += samples
    val bytes0 = dirBytes(new File(out))
    p.op("ingest/convert") {
      p.span("streaming", "build")(Ingest.chunkConvert(s, inbox, out, ckpt))
      samples
    }
    partBytes += dirBytes(new File(out)) - bytes0
    inputBytes += b.length()
    p.op("ingest/compact")(p.span("sources", "build")(PartWriter.compact(s, out)))
    compactBytes += dirBytes(new File(s"$out/compact.parquet"))
    compactedSamples = landedSamples
  }

  /** Every chunk decoded back: sample count and exact value sum. */
  private def decoded(df: DataFrame): (Long, BigDecimal) = {
    var n = 0L
    var total = BigDecimal(0)
    df.select("chunk").collect().foreach { r =>
      XorChunk.decode(r.getAs[Array[Byte]](0)).foreach { case (_, v) =>
        n += 1; total += BigDecimal(v)
      }
    }
    (n, total)
  }

  def verify(s: SparkSession): Seq[Check] = {
    val in = s.read.parquet(landed.map(_.getPath).toSeq: _*)
      .agg(count(lit(1)), sum(col("value").cast("decimal(30,6)"))).head()
    val want = (in.getLong(0), BigDecimal(in.getDecimal(1)))
    val parts = decoded(PartWriter.readParts(s, out))
    PartWriter.compact(s, out)
    val compacted = decoded(s.read.parquet(s"$out/compact.parquet"))
    def check(name: String, got: (Long, BigDecimal)) =
      Check(name, got == want, s"samples ${got._1} vs ${want._1}, sum ${got._2} vs ${want._2}")
    Seq(check("parts decode to the input", parts),
      check("compacted table decodes to the input", compacted))
  }

  def extra(s: SparkSession, p: Probe): Map[String, Double] = {
    val chunks = PartWriter.readParts(s, out).agg(count(lit(1)), sum("n_samples")).head()
    val base = Map(
      "samples_per_chunk" -> chunks.getLong(1).toDouble / chunks.getLong(0),
      "part_bytes" -> partBytes.sum.toDouble,
      "converts" -> partBytes.size.toDouble,
      "input_bytes" -> inputBytes.sum.toDouble,
      "compact_bytes" -> compactBytes.sum.toDouble,
      "compactions" -> compactBytes.size.toDouble,
      "last_compact_bytes" -> compactBytes.lastOption.getOrElse(0L).toDouble,
      "last_compact_samples" -> compactedSamples.toDouble)
    if (!p.tracing) base
    else {
      // XOR encode as a kernel: the first batch's series-hours encoded
      // on one thread, samples per second
      val groups = s.read.parquet(batches.head.getPath)
        .selectExpr("user_id", "event_type", "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "value", "event_id")
        .collect().groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2) / 3600000000L))
        .values.map(_.sortBy(r => (r.getLong(2), r.getLong(4)))
          .map(r => (r.getLong(2), r.getDouble(3)))).toSeq
      base + ("xor_encode_samples_per_s" ->
        kernelRate(groups.map { g => XorChunk.encode(g); g.length.toLong }.sum))
    }
  }
}

/** Curation shards: each shard is a fresh corpus at its own path,
  * run through seven pipeline entries. */
final class CurationShards(inputs: String) extends Workload {
  import Workload._
  private val shards = Option(new File(s"$inputs/shards").listFiles()).getOrElse(Array.empty)
    .filter(_.isDirectory).sortBy(_.getName).map(_.getPath).toSeq
  private var next = 0
  private var last = ""

  private val steps: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "dedup_exact" -> ((s, d) => Dedup.exact(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_simhash_near" -> ((s, d) => Dedup.simhashNearDup(s, d)),
    "admission_recall" -> ((s, d) => Dedup.admissionRecall(s, d)),
    "ann_ivf" -> ((s, d) => Similarity.ivf(s, d)),
    "doc_contamination" -> ((s, d) => Curation.contamination(s, d)),
    "doc_bm25" -> ((s, d) => Retrieval.bm25(s, d)))

  private def runShard(s: SparkSession, p: Probe, d: String): Unit = {
    steps.foreach { case (name, f) =>
      p.op(s"step/$name")(p.run("pipeline")(f(s, d)))
    }
    last = d
  }

  private var warmShard = ""
  def setup(s: SparkSession, p: Probe, data: String): Unit = warmShard = data
  override def warm(s: SparkSession, p: Probe): Unit = runShard(s, p, warmShard)

  /** The next shard. */
  def cycle(s: SparkSession, p: Probe, rng: Random): Unit = {
    runShard(s, p, shards(next))
    next += 1
  }

  def verify(s: SparkSession, p: Probe, out: String): (Seq[OracleCheck], Seq[Check]) =
    (steps.map { case (name, _) =>
      oracle(s"step/$name", name, p.answer(s"step/$name"), out, last)
    }, Nil)
}
