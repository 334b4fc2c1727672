package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SCHEMA-EVOLUTION read path — the table-format capability every
  * long-lived 100 TB dataset needs: files written before a column
  * existed must stay readable next to files written after, with the
  * missing column surfacing as NULL (parquet's add-a-nullable-column
  * evolution rule, the only evolution class this store performs).
  *
  * The store stages two file GENERATIONS under one root:
  * `g1/` — the original layout (event_id, user_id, value);
  * `g2/` — the widened layout (+ event_type). The read side is one
  * `mergeSchema` + `recursiveFileLookup` scan: Spark unions the file
  * footers' schemas at planning time, and each file group decodes with
  * its own physical schema — no rewrite of the old files ever happens
  * (at 100 TB a backfill rewrite is the thing this feature exists to
  * avoid). Plan cost: footer reads at planning; the scan itself stays
  * one pass with pushdown/pruning intact per file group.
  *
  * Deterministic content: generation membership is `user_id % 2`, so
  * the DuckDB oracle re-derives which rows must carry the NULL — the
  * hash proves the merged read reconstructs exactly the widened table
  * with NULLs where (and only where) the old files are.
  */
object EvoStore {

  /** Both generations, committed together as one artifact. */
  private def ensure(s: SparkSession, dir: String): String =
    graft.Artifact(s, "evo", s"$dir/events.parquet") { out =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("value"),
          col("event_type"))
      ev.filter(col("user_id") % 2 === 0)
        .select("event_id", "user_id", "value")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/g1")
      ev.filter(col("user_id") % 2 === 1)
        .write.mode(SaveMode.Overwrite).parquet(s"$out/g2")
    }

  /** The merged read: old files' rows carry NULL event_type. */
  def read(s: SparkSession, dir: String): DataFrame =
    s.read
      .option("mergeSchema", "true")
      .option("recursiveFileLookup", "true")
      .parquet(ensure(s, dir))
      .select("event_id", "user_id", "value", "event_type")
}
