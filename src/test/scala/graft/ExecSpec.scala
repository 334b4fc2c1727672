package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.SparkListenerApplicationEnd
import org.scalatest.funsuite.AnyFunSuite
import SparkFixture.spark

/** Contracts of the driver-side execution layer: [[Memo]] is scoped to
  * (session, key) and dies with its application, and [[Memo.over]]
  * rebuilds a value whose source changed; [[Par]] runs every
  * thunk under the caller's CURRENT job group, not the group of
  * whichever query first created the pooled thread.
  */
class ExecSpec extends AnyFunSuite {

  private def uniq(name: String) = s"ExecSpec.$name.${java.util.UUID.randomUUID}"

  test("Memo: one instance per (session, key); a new session gets its own") {
    val key = uniq("scope")
    val a = Memo(spark, key)(new Object)
    assert(Memo(spark, key)(new Object) eq a)
    val other = spark.newSession()
    val b = Memo(other, key)(new Object)
    assert(!(b eq a))
    assert(Memo(other, key)(new Object) eq b)
  }

  test("Memo: a build that throws leaves no entry; the next caller rebuilds") {
    val key = uniq("fail")
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      Memo(spark, key) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(Memo(spark, key) { builds.incrementAndGet(); "ok" } === "ok")
    assert(Memo(spark, key) { builds.incrementAndGet(); "again" } === "ok")
    assert(builds.get === 2)
  }

  test("Memo: the application-end hook drops every entry of that context") {
    val key = uniq("end")
    val other = spark.newSession()
    val a = Memo(spark, key)(new Object)
    val b = Memo(other, key)(new Object)
    val hook = Memo.endHook(spark.sparkContext)
    assert(hook.isDefined, "the first Memo call registers the hook")
    hook.get.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    assert(Memo.endHook(spark.sparkContext).isEmpty)
    assert(!(Memo(spark, key)(new Object) eq a))
    assert(!(Memo(other, key)(new Object) eq b))
    assert(Memo.endHook(spark.sparkContext).isDefined, "re-registered on next use")
  }

  test("Memo: nested and concurrent builds from Par threads complete") {
    val outerKey, innerKey = uniq("nest")
    val outerBuilds, innerBuilds = new AtomicInteger
    def inner(i: Int): Long = Memo(spark, (innerKey, i % 2)) {
      innerBuilds.incrementAndGet()
      Thread.sleep(50)
      spark.range(10 + i % 2).count()
    }
    // an outer build consults inner memos, some from nested Par threads
    def outer(i: Int): Long = Memo(spark, (outerKey, i % 3)) {
      outerBuilds.incrementAndGet()
      inner(i) + Par.all(spark)(Seq(() => inner(i + 1), () => inner(i))).sum
    }
    val got = Par.all(spark)((0 until 12).map(i => () => outer(i)))
    assert(got === (0 until 12).map(i => outer(i)))
    assert(outerBuilds.get === 3)
    assert(innerBuilds.get === 2)
  }

  /** A source file holding `byte`, its mtime moved forward on every
    * rewrite (a same-size rewrite in place, as a non-Spark writer does).
    */
  private def writeSource(path: java.nio.file.Path, byte: Int): Unit = {
    val before = if (Files.exists(path)) Files.getLastModifiedTime(path).toMillis else 0L
    Files.write(path, Array.fill[Byte](64)(byte.toByte))
    Files.setLastModifiedTime(path, FileTime.fromMillis(before + 10000L))
  }

  private def source(name: String): String = {
    val dir = Files.createDirectories(Paths.get(SparkFixture.tmp(uniq(name))))
    val src = dir.resolve("table.parquet")
    writeSource(src, 1)
    src.toString
  }

  test("Memo.over: one instance per (session, tag, source, params)") {
    val src = source("over_same")
    val a = Memo.over(spark, "over", src, 1)(new Object)
    assert(Memo.over(spark, "over", src, 1)(new Object) eq a)
    assert(!(Memo.over(spark, "over", src, 2)(new Object) eq a))
    assert(!(Memo.over(spark, "other", src, 1)(new Object) eq a))
  }

  test("Memo.over: a rewritten source rebuilds, replacing the superseded entry") {
    val s = spark.newSession()
    val src = source("over_rewrite")
    val a = Memo.over(s, "over", src)(new Object)
    assert(Memo.entries(s) === 1L)
    writeSource(Paths.get(src), 2)
    val b = Memo.over(s, "over", src)(new Object)
    assert(!(b eq a), "a rewritten source must not be served the old value")
    assert(Memo.over(s, "over", src)(new Object) eq b)
    assert(Memo.entries(s) === 1L, "the superseded entry is gone")
  }

  test("Memo.over: a new session gets its own entries") {
    val src = source("over_session")
    val a = Memo.over(spark, "over", src)(new Object)
    val other = spark.newSession()
    val b = Memo.over(other, "over", src)(new Object)
    assert(!(b eq a))
    assert(Memo.over(other, "over", src)(new Object) eq b)
    assert(Memo.entries(other) === 1L)
  }

  test("Memo.over: a build that throws leaves no entry; the next caller rebuilds") {
    val s = spark.newSession()
    val src = source("over_fail")
    val builds = new AtomicInteger
    intercept[IllegalStateException] {
      Memo.over(s, "over", src) { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(Memo.entries(s) === 0L)
    assert(Memo.over(s, "over", src) { builds.incrementAndGet(); "ok" } === "ok")
    assert(Memo.over(s, "over", src) { builds.incrementAndGet(); "again" } === "ok")
    assert(builds.get === 2)
  }

  test("Par: thunks see the caller's current job group (A, then B, then none)") {
    val sc = spark.sparkContext
    def groups(): Set[String] =
      Par.all(spark)(Seq.fill(8)(() => sc.getLocalProperty("spark.jobGroup.id"))).toSet
    try {
      sc.setJobGroup("query-A", "A")
      assert(groups() === Set("query-A"))
      sc.setJobGroup("query-B", "B")
      assert(groups() === Set("query-B"))
      sc.clearJobGroup()
      assert(groups() === Set(null))
    } finally sc.clearJobGroup()
  }

  test("Par: waits for every thunk before rethrowing the first failure") {
    val finished = new AtomicInteger
    val e = intercept[IllegalArgumentException] {
      Par.all(spark)(Seq(
        () => { Thread.sleep(300); finished.incrementAndGet() },
        () => throw new IllegalArgumentException("first"),
        () => throw new IllegalStateException("second")))
    }
    assert(e.getMessage === "first")
    assert(finished.get === 1, "the slow sibling completed before the rethrow")
  }
}
