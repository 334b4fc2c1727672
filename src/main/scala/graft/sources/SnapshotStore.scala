package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Snapshot-manifest TIME TRAVEL — the table-format capability that
  * turns an immutable parquet pile into a versioned table (the
  * Iceberg/Delta snapshot model; the reference's parts are themselves
  * immutable-once-written, db/writer.go, which is exactly what makes
  * snapshot isolation by file LIST possible). A version is nothing but
  * a manifest: a metadata-sized list of the file groups visible at that
  * commit. Reading "as of v" plans ONLY the files v lists; commits
  * never mutate a data file in place, so every historical version stays
  * readable forever at zero storage cost beyond the delta.
  *
  * Three commits are staged, covering the three mutation classes:
  *   v1 INSERT  — the even-`event_id` generation, one file group per
  *                `event_type` (the partition-value layout that makes
  *                delete planning a metadata decision);
  *   v2 APPEND  — the odd generation lands as NEW groups; v1 groups are
  *                carried into the v2 manifest BY REFERENCE (an append
  *                is an O(new data) commit, never a rewrite);
  *   v3 DELETE  — table-wide predicate
  *                `event_type = 'error' OR (event_type = 'signup' AND
  *                user_id % 3 = 0)`, resolved per group FROM ITS
  *                PARTITION VALUE alone (the stats-pruning posture):
  *                'error' groups match WHOLLY → dropped from the
  *                manifest, a METADATA-ONLY delete (the files stay on
  *                disk untouched — v1/v2 still read them); 'signup'
  *                groups match partially → copy-on-write rewrite of
  *                just those groups; every other group is carried by
  *                reference.
  *
  * Scale shape: a manifest is one line per file group — driver-side and
  * metadata-sized at any corpus size. Commit cost is O(files touched):
  * appends write only new data, metadata deletes write nothing, COW
  * rewrites are bounded to the groups whose partition value (min/max
  * stats in the general case) intersects the predicate. Reads plan from
  * the manifest list, so partition pruning happens before Spark ever
  * lists a directory. Deterministic membership (event_id parity, the
  * delete predicate) lets the DuckDB oracle re-derive every version's
  * row set from the raw table — the hash proves snapshot isolation.
  */
object SnapshotStore {

  /** The v3 delete predicate, on record once (Spark side). */
  private def deletePred =
    col("event_type") === "error" ||
      (col("event_type") === "signup" && col("user_id") % 3 === 0)

  /** Partition-value delete planning: how much of a group with this
    * `event_type` the predicate matches — the decision Iceberg makes
    * from file stats, made here from the partition value.
    */
  private sealed trait Match
  private case object MatchWhole extends Match
  private case object MatchPartial extends Match
  private case object MatchNone extends Match
  private def matchFor(eventType: String): Match = eventType match {
    case "error"  => MatchWhole
    case "signup" => MatchPartial
    case _        => MatchNone
  }

  private def manifestPath(root: String, v: Int): File =
    new File(s"$root/manifests", s"v$v.txt")

  private def writeManifest(root: String, v: Int,
                            groups: Seq[String]): Unit = {
    val dir = new File(root, "manifests")
    dir.mkdirs()
    // atomic publish: a manifest becomes visible all-or-nothing
    val tmp = File.createTempFile(s"manifest_v$v", ".tmp", dir)
    Files.write(tmp.toPath,
      (groups.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp.toPath, manifestPath(root, v).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Manifest of `v`: the relative file-group paths visible at that
    * version (metadata-sized; driver-side).
    */
  def manifest(s: SparkSession, dir: String, v: Int): Seq[String] = {
    val root = ensure(s, dir)
    Files.readAllLines(manifestPath(root, v).toPath)
      .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty)
  }

  /** Committed versions, ascending. */
  def versions(s: SparkSession, dir: String): Seq[Int] = {
    val root = ensure(s, dir)
    Option(new File(root, "manifests").listFiles()).getOrElse(Array.empty)
      .map(_.getName).collect { case n if n.matches("v\\d+\\.txt") =>
        n.stripPrefix("v").stripSuffix(".txt").toInt }
      .sorted.toSeq
  }

  /** The `event_type` partition value a group path encodes. */
  private def groupType(group: String): String =
    group.substring(group.lastIndexOf('_') + 1)

  /** All three versions, committed together as one artifact; each
    * version's manifest is still published atomically inside it.
    */
  private def ensure(s: SparkSession, dir: String): String =
    graft.Artifact(s, "snap", s"$dir/events.parquet") { root =>
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"), col("value"))
      val types = ev.select("event_type").distinct()
        .collect().map(_.getString(0)).sorted // bounded by schema
      // v1 INSERT: the even generation, one group per partition value
      val v1 = types.map { t =>
        val g = s"data/v1_$t"
        ev.filter(col("event_id") % 2 === 0 && col("event_type") === t)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/$g")
        g
      }.toSeq
      writeManifest(root, 1, v1)
      // v2 APPEND: odd generation as new groups; v1 carried by ref
      val v2 = v1 ++ types.map { t =>
        val g = s"data/v2_$t"
        ev.filter(col("event_id") % 2 === 1 && col("event_type") === t)
          .write.mode(SaveMode.Overwrite).parquet(s"$root/$g")
        g
      }.toSeq
      writeManifest(root, 2, v2)
      // v3 DELETE: per-group decision from the partition value only
      val v3 = v2.flatMap { g =>
        matchFor(groupType(g)) match {
          case MatchWhole => Seq.empty // metadata-only: drop, don't touch
          case MatchPartial =>
            val rw = g.replaceFirst("data/", "data/v3r_")
            s.read.parquet(s"$root/$g").filter(!deletePred)
              .write.mode(SaveMode.Overwrite).parquet(s"$root/$rw")
            Seq(rw)
          case MatchNone => Seq(g) // carried by reference
        }
      }
      writeManifest(root, 3, v3)
    }

  /** Read the table AS OF version `v`: plan exactly the manifest's file
    * groups — nothing else is listed, opened, or decoded.
    */
  def readAt(s: SparkSession, dir: String, v: Int): DataFrame = {
    val root = ensure(s, dir)
    val groups = manifest(s, dir, v).map(g => s"$root/$g")
    s.read.parquet(groups: _*)
  }

  /** Incremental read (the Delta-CDF / Iceberg-incremental posture):
    * the row-level changes between two committed versions, computed
    * from the MANIFEST DIFF alone — only groups that entered or left
    * the manifest are ever read; untouched data (the overwhelming mass
    * of a 100 TB table between two commits) is never listed, opened,
    * or decoded. The algorithm is the general one, not per-commit
    * special cases:
    *   inserts = rows of (to − from) groups minus rows of (from − to)
    *             groups   (a COW rewrite's carried rows are NOT
    *             inserts — the anti join on the key removes them);
    *   deletes = rows of (from − to) groups minus rows of (to − from)
    *             groups   (carried rows are not deletes either).
    * Both anti joins are keyed on the fine-grained `event_id` and run
    * over the TOUCHED subset only, so an incremental consumer pays
    * O(changed files), never O(table) — the property that makes
    * downstream incremental pipelines (dedup deltas, index
    * maintenance, rollup refresh) affordable at scale.
    */
  def changesBetween(s: SparkSession, dir: String,
                     vFrom: Int, vTo: Int): DataFrame = {
    val root = ensure(s, dir)
    val from = manifest(s, dir, vFrom).toSet
    val to = manifest(s, dir, vTo).toSet
    def read(groups: Set[String]): Option[DataFrame] =
      if (groups.isEmpty) None
      else Some(s.read.parquet(groups.toSeq.sorted.map(g => s"$root/$g"): _*))
    val added = read(to -- from)
    val removed = read(from -- to)
    def minus(a: Option[DataFrame], b: Option[DataFrame]): Option[DataFrame] =
      a.map(df => b.fold(df)(o =>
        df.join(o.select("event_id"), Seq("event_id"), "left_anti")))
    val ins = minus(added, removed)
      .map(_.withColumn("change_type", lit("insert")))
    val del = minus(removed, added)
      .map(_.withColumn("change_type", lit("delete")))
    // schema anchor for the no-changes case: a LocalRelation, never a
    // file scan — an empty diff must not even PLAN the table's files
    val empty = s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      readAt(s, dir, vTo).schema.add("change_type",
        org.apache.spark.sql.types.StringType))
    (ins.toSeq ++ del.toSeq)
      .reduceOption(_ unionByName _).getOrElse(empty)
      .withColumn("version", lit(vTo.toLong))
  }
}
