package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Z-order (Morton) clustered layout — multi-dimensional file pruning.
  *
  * The reference's sorted layout ((mint, maxt, labels...) —
  * db/writer.go:44-53) prunes well on the leading sort dimension and
  * poorly on the others; a 100 TB store queried by BOTH series and time
  * wants every file to cover a tight range in EVERY queried dimension.
  * Z-ordering interleaves the bits of the normalized dimensions so a
  * sort on the single z-value clusters rows that are close in ALL of
  * them: each output file's parquet min/max stats then form a compact
  * box in (user_id, time) space, and a 2-D predicate skips every file
  * whose box misses it (the OPTIMIZE ZORDER technique of the lakehouse
  * engines, expressed as plain Spark: an arithmetic z column +
  * repartitionByRange + sortWithinPartitions).
  *
  * Everything is deterministic integer arithmetic (normalize to a
  * 16-bit grid from the dataset min/max, interleave via shift/mask
  * builtins — all codegen'd), so the scan entry is oracle-checkable:
  * the store round-trips content exactly, and the DuckDB oracle is the
  * same 2-D filter on the source table.
  */
object ZOrderStore {

  val Bits = 16

  /** Morton-interleave two [0, 2¹⁶) grid coordinates: bit i of `a` →
    * bit 2i, bit i of `b` → bit 2i+1.
    */
  def interleave(a: Column, b: Column): Column =
    (0 until Bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Map of column `name` ∈ [lo, hi] onto the 16-bit grid by chunked
    * floor division: chunk = ⌈span/2¹⁶⌉, coord = (v − lo) div chunk ∈
    * [0, 65535]. Overflow-free for ANY span (the multiply-first form
    * (v−lo)·65535 wraps Long once the span passes ~4.4 years of
    * microseconds — e.g. one corrupt epoch-0 timestamp next to real
    * data would silently scramble the whole layout); integer-exact
    * (`div`, not `/` — long division through double loses bits past
    * 2⁵³).
    */
  def gridCoord(name: String, lo: Long, hi: Long): Column = {
    val span = math.max(1L, hi - lo)
    if (span <= 65535L) {
      // small span: SCALE UP so the coordinate fills the high grid
      // bits too — (v − lo) alone would leave them constant and the
      // interleave would cluster on the other dimension only (a
      // ~200-value user_id column must still split files). factor =
      // ⌊65535/span⌋ keeps max = span·factor <= 65535, product < 2³².
      expr(s"($name - ${lo}L) * ${65535L / span}L")
    } else {
      // large span: chunked floor division. +1 unconditionally:
      // span div (span/2¹⁶ + 1) <= 65535 for every span (an
      // exact-multiple span would otherwise map its maximum to 65536,
      // whose bit 16 the 16-bit interleave silently drops)
      val chunk = span / 65536L + 1L
      expr(s"($name - ${lo}L) div ${chunk}L")
    }
  }

  /** Z-order and write ANY events-shaped frame (columns incl. user_id
    * and a µs-long `us`): the core the store build and the
    * ingest-compaction pass share. `parts` <= 0 lets the caller size
    * partitions from input bytes beforehand.
    */
  def writeZOrdered(frame: DataFrame, path: String, parts: Int): Unit = {
    val b = frame.agg(min("user_id"), max("user_id"), min("us"), max("us"))
      .head()
    require(!b.isNullAt(0),
      s"writeZOrdered: input frame is empty — nothing to write to $path")
    val (uLo, uHi, tLo, tHi) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val z = interleave(
      gridCoord("user_id", uLo, uHi),
      gridCoord("us", tLo, tHi)).as("zv")
    frame.withColumn("zv", z)
      .repartitionByRange(math.max(1, parts), col("zv"))
      .sortWithinPartitions("zv")
      .drop("zv")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Write-once z-ordered events store, keyed on `numFiles`. The
    * dimension bounds come from one tiny aggregate (4 scalars — at
    * cluster scale, file-footer stats); `numFiles <= 0` sizes
    * partitions from input bytes.
    */
  def ensureWritten(s: SparkSession, dir: String, numFiles: Int = 0): String =
    graft.Artifact(s, "zorder", s"$dir/events.parquet", numFiles) { path =>
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
      val parts =
        if (numFiles > 0) numFiles
        else ChunkStore.targetPartitions(s, s"$dir/events.parquet")
      writeZOrdered(ev, path, parts)
    }

  /** Compaction pass over a STREAMING INGEST sink (sources/Ingest's
    * date-partitioned layout): re-cluster the accumulated small files
    * into one Morton-ordered store — the lakehouse OPTIMIZE ZORDER
    * step, run as a batch job behind the live writer exactly like the
    * reference's part-file compactor runs behind its ingest
    * (db/writer.go Compact). Returns the store path.
    */
  def compactIngested(s: SparkSession, ingestedDir: String, outPath: String,
                      numFiles: Int = 0): String = {
    val ev = s.read.parquet(ingestedDir).select(
      col("event_id"), col("user_id"), col("event_type"), col("value"),
      unix_micros(col("ts")).as("us"))
    val parts =
      if (numFiles > 0) numFiles
      else ChunkStore.targetPartitions(s, ingestedDir)
    writeZOrdered(ev, outPath, parts)
    outPath
  }

  /** 2-D point/range scan over the z-ordered store: both predicates
    * reach the parquet scan, and the layout makes BOTH prune files.
    */
  def scan(s: SparkSession, dir: String,
           uidLo: Long, uidHi: Long, usLo: Long, usHi: Long,
           numFiles: Int = 0): DataFrame =
    s.read.parquet(ensureWritten(s, dir, numFiles))
      .filter(col("user_id") >= uidLo && col("user_id") <= uidHi &&
        col("us") >= usLo && col("us") <= usHi)
      .select("event_id", "user_id", "event_type", "value", "us")

  /** Per-file (min, max) of two long columns, from the parquet footers
    * — the stats a reader prunes with (test/diagnostic helper).
    */
  def fileBoxes(path: String, colA: String, colB: String): Seq[((Long, Long), (Long, Long))] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    new java.io.File(path).listFiles().toSeq
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          def range(name: String): (Long, Long) = {
            val stats = r.getFooter.getBlocks.asScala.map { bl =>
              val c = bl.getColumns.asScala
                .find(_.getPath.toDotString == name).get
              c.getStatistics
            }
            (stats.map(_.genericGetMin.asInstanceOf[Long]).min,
              stats.map(_.genericGetMax.asInstanceOf[Long]).max)
          }
          (range(colA), range(colB))
        } finally r.close()
      }
  }
}
