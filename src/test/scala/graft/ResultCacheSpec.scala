package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Promql
import graft.plans.ResultCache
import SparkFixture.{sf, spark}

/** The query-frontend results cache: interval arithmetic, grid-exact
  * equality with direct evaluation, pure-store serving on repeats, and
  * tail-only fresh evaluation after priming.
  */
class ResultCacheSpec extends AnyFunSuite {

  private val H = 3600L
  private def clearCache(): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}")))

  test("two sessions racing write+compact on one key serialize through the locks, grid stays exact") {
    // VERDICT r16 #6: the cross-process writer lock (a create-exclusive
    // lock file per base with stale-TTL takeover) plus the base-keyed
    // in-JVM monitor — two frontends advancing the same dashboard key
    // concurrently must never tear an interval overwrite or a meta
    // swap. The windows interleave enough to trip compaction (> 16
    // intervals per key) under contention.
    clearCache()
    val q = "sum(view)"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        try {
          val s2 = spark.newSession()
          for (k <- 0 until 24) {
            val a = 1704067200L + ((k + t * 7) % 24) * H
            ResultCache.queryCached(s2, sf, q,
              Promql.EvalSpec(a, a + H, H, 7200L)).count()
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing writers must not fail: ${errs.peek()}")
    val full = Promql.EvalSpec(1704067200L, 1704067200L + 30 * H, H, 7200L)
    val got = ResultCache.queryCached(spark, sf, q, full)
    val want = Promql.queryAt(spark, sf, q, full)
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).count() === 0 && w.exceptAll(got).count() === 0,
      "post-race grid must equal direct evaluation")
    assert(got.count() > 0)
    // the lock released cleanly: no _lock_ files left behind
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    assert(!root.listFiles().exists(_.getName.startsWith("_lock_")),
      "released locks must not leak")
  }

  test("a foreign process's lock blocks the writer until released; a stale lock is taken over") {
    clearCache()
    val q = "sum(purchase)"
    val spec = Promql.EvalSpec(1704067200L, 1704070800L, H, 7200L)
    // prime once to learn the key's base, then clear
    ResultCache.queryCached(spark, sf, q, spec).count()
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    clearCache()
    java.nio.file.Files.createDirectories(root.toPath)
    // a FRESH foreign lock (another process mid-write): our writer must
    // wait for its release, not proceed
    val lock = root.toPath.resolve("_lock_foreign_probe")
    // the base is derived from the query key — plant a lock under every
    // base the cache might use by running once and capturing the name
    ResultCache.queryCached(spark, sf, q, spec).count()
    val baseLock = root.listFiles().find(_.getName.startsWith("_lock_"))
    assert(baseLock.isEmpty, "no lock should persist after a write")
    val keyDir = root.listFiles().filter(_.isDirectory).head.getName
    val base = keyDir.substring(0, keyDir.lastIndexOf('_'))
    val foreign = root.toPath.resolve(s"_lock_$base")
    java.nio.file.Files.write(foreign, "other-process".getBytes,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val worker = new Thread(() => {
      val s2 = spark.newSession()
      ResultCache.queryCached(s2, sf, q,
        Promql.EvalSpec(1704070800L, 1704074400L, H, 7200L)).count()
      done.set(true)
    })
    worker.start()
    Thread.sleep(600L)
    assert(!done.get(), "a held foreign lock must block the writer")
    java.nio.file.Files.delete(foreign)
    worker.join(30000L)
    assert(done.get(), "the writer must proceed once the lock releases")
    // stale takeover: an aged lock (older than the TTL) is broken
    java.nio.file.Files.write(foreign, "crashed-process".getBytes,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    java.nio.file.Files.setLastModifiedTime(foreign,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600L * 1000L))
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.resultCache.lockTtlMs", "1000")
    val t0 = System.currentTimeMillis()
    ResultCache.queryCached(s3, sf, q,
      Promql.EvalSpec(1704074400L, 1704078000L, H, 7200L)).count()
    assert(System.currentTimeMillis() - t0 < 20000L,
      "a stale lock must be taken over, not waited on forever")
    val _ = lock // silence unused
  }

  test("uncovered interval subtraction is exact and grid-aligned") {
    def u(s: Long, e: Long, cov: Seq[(Long, Long)]) =
      ResultCache.uncovered(s, e, H, cov)
    // nothing covered -> the whole request
    assert(u(0, 10 * H, Seq.empty) === Seq((0L, 10 * H)))
    // head covered -> tail only
    assert(u(0, 10 * H, Seq((0L, 4 * H))) === Seq((5 * H, 10 * H)))
    // hole in the middle
    assert(u(0, 10 * H, Seq((3 * H, 5 * H))) ===
      Seq((0L, 2 * H), (6 * H, 10 * H)))
    // covered interval extending beyond both ends -> nothing
    assert(u(2 * H, 8 * H, Seq((0L, 10 * H))) === Seq.empty)
    // multiple disjoint covers, unsorted input
    assert(u(0, 10 * H, Seq((6 * H, 7 * H), (1 * H, 2 * H))) ===
      Seq((0L, 0L), (3 * H, 5 * H), (8 * H, 10 * H)))
    // adjacent cover ending exactly at request start
    assert(u(5 * H, 8 * H, Seq((0L, 4 * H))) === Seq((5 * H, 8 * H)))
  }

  test("prime-head-then-full equals direct evaluation row-for-row") {
    clearCache()
    val half = Promql.EvalSpec(1704067200L, 1704110400L, H, 7200L)
    val full = Promql.EvalSpec(1704067200L, 1704153600L, H, 7200L)
    val q = "sum(click)"
    ResultCache.queryCached(spark, sf, q, half).count()
    val got = ResultCache.queryCached(spark, sf, q, full)
    val want = Promql.queryAt(spark, sf, q, full)
    assert(got.columns.sorted === want.columns.sorted)
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).count() === 0, "cache-only rows")
    assert(w.exceptAll(got).count() === 0, "direct-only rows")
    assert(got.count() > 0)
  }

  test("a fully-covered repeat serves purely from the result store (no raw-table scan)") {
    val full = Promql.EvalSpec(1704067200L, 1704153600L, H, 7200L)
    val again = ResultCache.queryCached(spark, sf, "sum(click)", full)
    val plan = SparkFixture.planOf(again)
    assert(!plan.contains("events.parquet"),
      "repeat query must not touch the raw table:\n" + plan)
    assert(plan.contains("result_cache_"), "must scan the result store")
  }

  test("after priming, only the uncovered tail is evaluated (one new interval dir)") {
    clearCache()
    val head = Promql.EvalSpec(1704067200L, 1704110400L, H, 7200L)
    val full = Promql.EvalSpec(1704067200L, 1704153600L, H, 7200L)
    ResultCache.queryCached(spark, sf, "sum(click)", head).count()
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    def ivDirs() = root.listFiles().flatMap(_.listFiles())
      .map(_.getName).filter(_.startsWith("iv_")).toSet
    val before = ivDirs()
    assert(before === Set("iv_1704067200_1704110400"))
    ResultCache.queryCached(spark, sf, "sum(click)", full).count()
    val added = ivDirs() -- before
    // tail starts one step past the covered head
    assert(added === Set(s"iv_${1704110400L + H}_1704153600"))
  }

  test("an off-grid endSec clamps to the aligned grid and cannot phase-shift later queries") {
    clearCache()
    val offGrid = Promql.EvalSpec(1704067200L, 1704110400L + 1800L, H, 7200L)
    val wide = Promql.EvalSpec(1704067200L, 1704153600L, H, 7200L)
    ResultCache.queryCached(spark, sf, "sum(click)", offGrid).count()
    val got = ResultCache.queryCached(spark, sf, "sum(click)", wide)
    val want = Promql.queryAt(spark, sf, "sum(click)", wide)
    // every served step sits ON the grid, none is missing
    val steps = got.select("step").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().toSet
    assert(steps.forall(st => (st - 1704067200L) % H == 0),
      s"off-grid steps served: ${steps.filter(st => (st - 1704067200L) % H != 0)}")
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).count() === 0 && w.exceptAll(got).count() === 0)
  }

  test("moving-dashboard refreshes compact: interval count stays bounded, equality holds") {
    clearCache()
    val start = 1704067200L
    var end = 1704110400L
    ResultCache.queryCached(spark, sf, "sum(click)",
      Promql.EvalSpec(start, end, H, 7200L)).count()
    for (_ <- 1 to 20) { // 20 one-step panel refreshes
      end += H
      ResultCache.queryCached(spark, sf, "sum(click)",
        Promql.EvalSpec(start, end, H, 7200L)).count()
    }
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    val ivDirs = root.listFiles().flatMap(_.listFiles())
      .map(_.getName).filter(_.startsWith("iv_"))
    assert(ivDirs.length <= ResultCache.CompactAt + 1,
      s"cache must compact, found ${ivDirs.length} interval dirs")
    val got = ResultCache.queryCached(spark, sf, "sum(click)",
      Promql.EvalSpec(start, end, H, 7200L))
    val want = Promql.queryAt(spark, sf, "sum(click)",
      Promql.EvalSpec(start, end, H, 7200L))
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).count() === 0 && w.exceptAll(got).count() === 0)
  }

  test("a torn interval (missing _SUCCESS) re-evaluates instead of serving an incomplete grid") {
    clearCache()
    val spec = Promql.EvalSpec(1704067200L, 1704110400L, H, 7200L)
    ResultCache.queryCached(spark, sf, "sum(click)", spec).count()
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    val iv = root.listFiles().flatMap(_.listFiles())
      .find(_.getName.startsWith("iv_")).get
    // simulate a writer killed mid-overwrite: data files partially
    // present, no _SUCCESS — meta still lists the interval
    assert(new java.io.File(iv, "_SUCCESS").delete())
    val got = ResultCache.queryCached(spark, sf, "sum(click)", spec)
    // the interval was re-evaluated: _SUCCESS restored, equality holds
    assert(new java.io.File(iv, "_SUCCESS").isFile,
      "torn interval must be re-evaluated and re-committed")
    val want = Promql.queryAt(spark, sf, "sum(click)", spec)
    val w = want.select(got.columns.map(col): _*)
    assert(got.exceptAll(w).count() === 0 && w.exceptAll(got).count() === 0)
  }

  test("superseded source fingerprints are swept: N regenerations leave O(1) keys") {
    clearCache()
    val spec = Promql.EvalSpec(1704067200L, 1704110400L, H, 7200L)
    ResultCache.queryCached(spark, sf, "sum(click)", spec).count()
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    val key = root.listFiles().filter(_.isDirectory).head.getName
    val base = key.substring(0, key.lastIndexOf('_'))
    // simulate N prior in-place corpus regenerations: sibling keys of
    // the same query under dead fingerprints
    for (i <- 1 to 5) {
      val dead = new java.io.File(root, f"${base}_$i%012x")
      assert(dead.mkdirs())
      java.nio.file.Files.writeString(dead.toPath.resolve("meta"), "0,0")
    }
    assert(root.listFiles().count(_.getName.startsWith(base + "_")) === 6)
    // the next WRITE under the live fingerprint retires them all
    ResultCache.queryCached(spark, sf, "sum(click)",
      Promql.EvalSpec(1704067200L, 1704114000L, H, 7200L)).count()
    val left = root.listFiles().filter(_.getName.startsWith(base + "_"))
      .map(_.getName).toSeq
    assert(left === Seq(key),
      s"stale-fp siblings must be swept at write time, found $left")
  }

  test("a range that evaluates to an empty vector is cached-as-empty and re-servable") {
    clearCache()
    val spec = Promql.EvalSpec(1704067200L, 1704110400L, H, 7200L)
    val q = """sum(count_over_time({event_type="nosuch"}[1h]))"""
    assert(ResultCache.queryCached(spark, sf, q, spec).count() === 0)
    // the repeat serves ONLY from the store: the empty interval's dir
    // must carry a schema-bearing part file, not zero files
    val again = ResultCache.queryCached(spark, sf, q, spec)
    val plan = SparkFixture.planOf(again)
    assert(!plan.contains("events.parquet"),
      "cached-empty repeat must not touch the raw table:\n" + plan)
    assert(again.count() === 0)
  }

  test("grid phase and window are part of the cache key") {
    clearCache()
    val a = Promql.EvalSpec(1704067200L, 1704110400L, H, 7200L)
    val shifted = Promql.EvalSpec(1704067200L + 1800L, 1704110400L + 1800L, H, 7200L)
    val widened = Promql.EvalSpec(1704067200L, 1704110400L, H, 3600L)
    ResultCache.queryCached(spark, sf, "sum(click)", a).count()
    ResultCache.queryCached(spark, sf, "sum(click)", shifted).count()
    ResultCache.queryCached(spark, sf, "sum(click)", widened).count()
    val root = new java.io.File(
      SparkFixture.tmp(s"result_cache_${graft.sources.ChunkStore.pathTag(sf)}"))
    assert(root.listFiles().count(_.isDirectory) === 3,
      "three incompatible grids must occupy three cache keys")
    // and the shifted grid's values are their own evaluation
    val got = ResultCache.queryCached(spark, sf, "sum(click)", shifted)
    val want = Promql.queryAt(spark, sf, "sum(click)", shifted)
    assert(got.exceptAll(want.select(got.columns.map(col): _*)).count() === 0)
  }
}
