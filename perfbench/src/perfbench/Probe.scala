package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType

/** One timed operation: a request, a convert call or a pipeline step. */
final case class OpRecord(id: Int, kind: String, pass: String, group: String,
                          startMs: Long, endMs: Long, latencyNs: Long, rowsOut: Long,
                          traced: Boolean, failed: Boolean = false)

/** A timed region inside an operation. `layer` is the module whose code
  * ran: a graft module (operators, plans, sources, streaming, pipeline),
  * `spark` for planning and execution below graft, or `op` for the
  * operation itself. */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** Spark-side counts of one operation, filled from listener events. */
final class OpCounts {
  var jobs, stages, tasks = 0L
  var taskDurationMs, runTimeMs, bytesRead, recordsRead = 0L
  var shuffleRead, shuffleWrite, spill, bytesWritten = 0L
  var rawRowsRead, storeRowsRead = 0L
  var unattributedJobs = 0L
}

/** Runs operations for a workload and, when traced, records spans and
  * listener counts per operation.
  *
  * Each operation gets its own job group, so its jobs are told apart
  * from another operation's. Listener events arrive asynchronously, so
  * they are matched to operations by their timestamp, not by arrival:
  * a job belongs to the operation running when it was submitted, and a
  * job whose group is not that operation's counts as unattributed.
  */
final class Probe(spark: SparkSession, val dataRoot: String, val storeRoot: String) {
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  val spans = mutable.ArrayBuffer.empty[Span]
  val counts = mutable.HashMap.empty[Int, OpCounts]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val progress = mutable.ArrayBuffer.empty[(Long, Map[String, Long])]
  @volatile private var events = 0L
  private var traced = false
  /** Label of the ops recorded now: `setup`, `measure` or `traced`. */
  var pass = "setup"
  private var curOp = -1
  private var curKind = ""
  /** The rows the latest operation of each kind returned, for checking. */
  private val answers = mutable.HashMap.empty[String, (StructType, Array[Row])]
  private var stack: List[Int] = Nil
  private var nextSpan = 0

  def tracing: Boolean = traced

  private def opAt(timeMs: Long): Option[OpRecord] = synchronized {
    ops.reverseIterator.find(o => o.traced && o.startMs <= timeMs && timeMs <= o.endMs)
  }
  private def countsOf(op: Int) = counts.getOrElseUpdate(op, new OpCounts)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events += 1
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      opAt(e.time).foreach { o =>
        Probe.this.synchronized {
          val c = countsOf(o.id)
          c.jobs += 1
          c.stages += e.stageIds.size
          if (group != o.group) c.unattributedJobs += 1
          e.stageIds.foreach(stageOp(_) = o.id)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      events += 1
      for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = countsOf(op)
        c.tasks += 1
        c.taskDurationMs += e.taskInfo.duration
        c.runTimeMs += m.executorRunTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        events += 1
        // the event's query execution is package-private; read it reflectively
        val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
        if (qe != null) opAt(end.time).foreach { o =>
          val (raw, store) = scanRows(qe.executedPlan)
          Probe.this.synchronized {
            val c = countsOf(o.id)
            c.rawRowsRead += raw
            c.storeRowsRead += store
          }
        }
      case _ =>
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      events += 1
      val d = e.progress.durationMs
      val m = Seq("addBatch", "walCommit", "triggerExecution")
        .flatMap(k => Option(d.get(k)).map(v => k -> v.longValue)).toMap
      // matched by the batch's start time: the event itself may arrive
      // after the operation that ran the batch has returned
      val start = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      if (e.progress.numInputRows > 0) Probe.this.synchronized { progress += ((start, m)) }
    }
  }

  /** Rows the file scans of an executed plan produced, split into rows
    * of the generated inputs and rows of graft's stores. */
  private def scanRows(plan: SparkPlan): (Long, Long) = {
    var raw, store = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case f: FileSourceScanExec =>
        val rows = f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        val paths = f.relation.location.rootPaths.map(_.toUri.getPath)
        if (paths.exists(_.startsWith(storeRoot))) store += rows
        else if (paths.exists(_.startsWith(dataRoot))) raw += rows
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (raw, store)
  }

  def startTracing(): Unit = if (!traced) {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    traced = true
  }

  def stopTracing(): Unit = if (traced) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    traced = false
  }

  /** Waits until listener events stop arriving. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }

  /** Times `f` as one operation of kind `kind` under its own job group. */
  def op[T](kind: String)(f: => T): T = {
    val id = ops.size
    val group = s"perfbench-op-$id"
    val sc = spark.sparkContext
    sc.setJobGroup(group, kind, interruptOnCancel = false)
    curOp = id
    curKind = kind
    val startMs = System.currentTimeMillis()
    // placeholder so listener events during the op find it
    synchronized { ops += OpRecord(id, kind, pass, group, startMs, Long.MaxValue, 0L, 0L, traced) }
    val t0 = System.nanoTime()
    val root = if (traced) openSpan(id, "op", kind, t0) else -1
    val out = try f catch { case e: Throwable =>
      synchronized { ops(id) = ops(id).copy(failed = true) }
      throw e
    } finally {
      val t1 = System.nanoTime()
      if (root >= 0) closeSpan(root, t1)
      sc.clearJobGroup()
      curOp = -1
      synchronized {
        ops(id) = ops(id).copy(endMs = System.currentTimeMillis(), latencyNs = t1 - t0)
      }
    }
    out match {
      case n: Long => synchronized { ops(id) = ops(id).copy(rowsOut = n) }
      case _ =>
    }
    out
  }

  private def openSpan(op: Int, layer: String, name: String, t: Long): Int = {
    val id = nextSpan
    nextSpan += 1
    spans += Span(id, stack.headOption.getOrElse(-1), op, layer, name, t, -1L)
    stack = id :: stack
    id
  }
  private def closeSpan(id: Int, t: Long): Unit = {
    spans(id) = spans(id).copy(endNs = t)
    stack = stack.tail
  }

  /** Times `f` as a span of `layer` inside the current operation. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!traced || curOp < 0) f
    else {
      val id = openSpan(curOp, layer, name, System.nanoTime())
      try f finally closeSpan(id, System.nanoTime())
    }

  /** Runs a DataFrame-returning graft call in three timed parts: the
    * call itself (layer `layer`), forcing the executed plan, and
    * execution, which returns the rows to the caller as a client would.
    * Returns the number of rows. */
  def run(layer: String)(build: => DataFrame): Long = {
    val df = span(layer, "build")(build)
    span("spark", "plan")(df.queryExecution.executedPlan)
    span("spark", "exec") {
      val rows = df.collect()
      if (curOp >= 0) answers(curKind) = (df.schema, rows)
      rows.length.toLong
    }
  }

  /** The answer the latest operation of `kind` returned to the client. */
  def answer(kind: String): DataFrame = {
    val (schema, rows) = answers(kind)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  def streamProgress: Seq[Map[String, Long]] = synchronized {
    progress.filter { case (t, _) => opAt(t).isDefined }.map(_._2).toSeq
  }
}
