package graft

import java.nio.file.Paths
import java.util.concurrent.{ConcurrentHashMap, ExecutionException, Executors}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** The one way graft runs driver-side Spark work concurrently (eager
  * checkpoints, collects, large plan construction). Each thunk runs
  * with the caller's Spark local properties (job group, tags,
  * description, interruptOnCancel) and active session, captured at the
  * call as Spark's own broadcast threads do, so cancelling the caller's
  * group reaches every job a thunk starts. A pooled thread otherwise
  * keeps the properties of whichever query first created it.
  */
object Par {

  // cached, not fixed-size: a thunk may itself call `all` (admission
  // recall nests), and a bounded pool can deadlock on nested thunks
  private lazy val pool = {
    val n = new AtomicInteger
    Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, s"graft-par-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }

  /** Runs the thunks concurrently; results in thunk order. Waits for
    * every thunk before rethrowing the first failure, so no job a
    * thunk started outlives the call.
    */
  def all[T](s: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    val done = thunks
      .map(f => SQLExecution.withThreadLocalCaptured(castToImpl(s), pool)(f()))
      .map(f => try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) })
    done.collectFirst { case Left(e) => throw e }
    done.collect { case Right(v) => v }
  }

  def both[A, B](s: SparkSession)(a: => A, b: => B): (A, B) = {
    val Seq(x, y) = all[Any](s)(Seq(() => a, () => b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }
}

/** The one session-scoped memo: a value built once per (session, key).
  * A value derived from a table is keyed on that table through [[over]]
  * and rebuilt when the table's files change; plain keys are for values
  * no source derives (a per-session register, or a decode keyed on an
  * [[Artifact]] path, which already holds its source's fingerprint).
  * `spark.newSession()` gets its own entries, and a context's entries
  * are dropped when its application ends, so a new session is never
  * served a dead checkpointed frame.
  *
  * Builds run outside the map's locking: builds nest (verified pairs
  * read candidate pairs) and run concurrently from [[Par]] threads,
  * which nested `computeIfAbsent` on one map cannot do. Callers of one
  * key wait for its single build; a build that throws (a failed or
  * cancelled job) leaves no entry, and the next caller rebuilds.
  */
object Memo {

  private final class Cell(val fp: String, build: () => Any) { lazy val value: Any = build() }

  private val cells = new ConcurrentHashMap[(SparkSession, Any), Cell]()
  private val endHooks = new ConcurrentHashMap[SparkContext, SparkListener]()

  def apply[V](s: SparkSession, key: Any)(build: => V): V = get(s, key, null)(build)

  /** A value built from the table at `source` (its file or directory),
    * once per (session, tag, source, params) and again whenever the
    * table's [[Artifact.fingerprint]] differs from the one the entry was
    * built at: the new value replaces the entry, so a table rewritten in
    * place is never answered from a frame over its old files (Spark's
    * cache matches plans by path and would be), and the superseded
    * value, a checkpoint's blocks included, becomes unreachable.
    */
  def over[V](s: SparkSession, tag: String, source: String, params: Any*)(build: => V): V =
    get(s, (tag, source, params), Artifact.fingerprint(Paths.get(source)))(build)

  private def get[V](s: SparkSession, key: Any, fp: String)(build: => V): V = {
    endHooks.computeIfAbsent(s.sparkContext, sc => {
      val hook = new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          cells.keySet.removeIf(_._1.sparkContext eq sc)
          endHooks.remove(sc)
        }
      }
      sc.addSparkListener(hook)
      hook
    })
    val k = (s, key)
    val cell = cells.compute(k, (_, old) =>
      if (old != null && old.fp == fp) old else new Cell(fp, () => build))
    try cell.value.asInstanceOf[V]
    catch { case e: Throwable => cells.remove(k, cell); throw e }
  }

  private[graft] def endHook(sc: SparkContext): Option[SparkListener] =
    Option(endHooks.get(sc))

  private[graft] def entries(s: SparkSession): Long =
    cells.keySet.stream.filter(_._1 eq s).count()
}
