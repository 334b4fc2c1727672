package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.SparkSession
import graft.sources.ChunkStore

/** The one write-once artifact: a store built once from a source and
  * then read many times (the reference writes each block file once,
  * db/writer.go). One definition of the three decisions every store
  * shares:
  *
  *  - key: the artifact's path is a pure function of (format tag,
  *    source fingerprint, params), so regenerated source data lands at
  *    a new path and is never served from a stale store;
  *  - build: into a sibling `<path>.tmp-<uuid>` dir, never in place;
  *  - commit: one atomic rename of that dir onto the path. The final
  *    directory existing IS the commit marker, so a crash mid-build
  *    leaves no artifact (only a temp dir nothing reads), and two
  *    concurrent writers only duplicate work: the rename's loser
  *    drops its temp dir and returns the winner's path (the idempotent
  *    write + atomic commit of Structured Streaming's sinks).
  */
object Artifact {

  /** Content fingerprint of a source file or directory: the name, size
    * and last-modified time of the file, or of every `.parquet` file
    * directly inside the directory. Part names alone cannot tell a
    * regeneration apart: writers other than Spark reuse them
    * (`part-00000.parquet`).
    */
  def fingerprint(src: Path): String = {
    def entry(p: Path) =
      s"${p.getFileName}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
    val entries =
      if (Files.isDirectory(src)) {
        val st = Files.list(src)
        try st.filter(_.getFileName.toString.endsWith(".parquet"))
          .map[String](entry).sorted().toArray.mkString("\n")
        finally st.close()
      } else entry(src)
    UUID.nameUUIDFromBytes(entries.getBytes(UTF_8)).toString
  }

  /** `<storeRoot>/<tag>_<dataset dir>_<hash(fingerprint, params)>`,
    * where the dataset dir is the source's parent. Pure: existence
    * probes call it without building anything.
    */
  def path(s: SparkSession, tag: String, source: String, params: Any*): String = {
    val src = Paths.get(source)
    val key = (fingerprint(src) +: params.map(_.toString)).mkString("|")
    val hash = UUID.nameUUIDFromBytes(key.getBytes(UTF_8)).toString.replace("-", "").take(16)
    val dir = Option(src.getParent).fold("")(_.toString)
    s"${ChunkStore.storeRoot(s)}/${tag}_${ChunkStore.pathTag(dir)}_$hash"
  }

  /** The committed artifact's path, building it first when absent:
    * `build` writes the artifact's contents into the directory it is
    * given, which is then committed by rename. A `build` that throws
    * leaves nothing behind, and the next call builds again.
    */
  def apply(s: SparkSession, tag: String, source: String, params: Any*)(
      build: String => Unit): String = {
    val out = path(s, tag, source, params: _*)
    val dst = Paths.get(out)
    if (!Files.isDirectory(dst)) {
      val tmp = Paths.get(s"$out.tmp-${UUID.randomUUID()}")
      try {
        build(tmp.toString)
        Files.createDirectories(tmp)
        commit(tmp, dst)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    }
    out
  }

  // rename(2) onto a committed (non-empty) dir fails with EEXIST or
  // ENOTEMPTY; the JDK maps only the first to FileAlreadyExistsException
  private def commit(tmp: Path, dst: Path): Unit =
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: FileSystemException if Files.isDirectory(dst) => () }
}
