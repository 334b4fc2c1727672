package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for every suite (suites run sequentially in
  * the single forked test JVM; creating a session per suite costs ~5s
  * each). sf0.001 keeps specs fast; correctness vs the DuckDB oracle at
  * sf0.01 is the driver's job, these specs assert invariants + physical
  * plan shape.
  */
object SparkFixture {
  val sf = "/root/testdata/sf0.001"

  /** A fresh store root per test JVM (`spark.graft.store.root`), so two
    * checkouts or concurrent runs never share or collide on a store.
    * Deleted when the JVM exits.
    */
  lazy val storeRoot: String = {
    val root = java.nio.file.Files.createTempDirectory("graft-test-").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(root))
    root.getPath
  }

  /** A scratch path under the per-JVM store root. */
  def tmp(name: String): String = s"$storeRoot/$name"

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.graft.store.root", storeRoot)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Formatted physical-plan text (same thing `.explain("formatted")`
    * prints) for plan-shape assertions.
    */
  def planOf(df: DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** True iff `plan` pushes a lower `ts` bound of `loNs` epoch-ns to the
    * parquet scan, in EITHER layout's rendering: the raw-ns long
    * (TIMESTAMP(NANOS) read as long) or the µs-timestamp literal
    * (TIMESTAMP(MICROS), ceil-converted — see Tables.eventsRanged).
    */
  def tsLowerPushed(plan: String, loNs: Long): Boolean =
    plan.contains(s"GreaterThanOrEqual(ts,$loNs)") ||
      plan.contains(s"GreaterThanOrEqual(ts,${usLdt(-Math.floorDiv(-loNs, 1000L))})")

  /** Upper-bound twin of [[tsLowerPushed]]: inclusive `hiNs` epoch-ns,
    * floor-converted on the µs layout.
    */
  def tsUpperPushed(plan: String, hiNs: Long): Boolean =
    plan.contains(s"LessThanOrEqual(ts,$hiNs)") ||
      plan.contains(s"LessThanOrEqual(ts,${usLdt(Math.floorDiv(hiNs, 1000L))})")

  private def usLdt(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)

  /** Executes the frame and returns the parquet scan's OUTPUT row count
    * — rows the reader actually surfaced after row-group / page-level
    * skipping, before Spark's post-scan Filter. The IO-side metric for
    * bloom- and column-index-pruning assertions.
    */
  def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val executed = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    executed.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metrics("numOutputRows").value
    }.sum
  }
}
