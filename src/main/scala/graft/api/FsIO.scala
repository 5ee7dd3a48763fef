package graft.api

import java.nio.charset.StandardCharsets
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-`FileSystem` IO for everything that lives under a storage
  * root: the [[Registry]] catalog and FalApi's per-version sidecar
  * files (`_bucketed_table`, `_schema.ddl`, `_prev_version`). Resolving
  * the filesystem FROM the path means a `file://`, `hdfs://`, or
  * `s3a://` root all take the same code path — the object-store posture
  * the reference's teleport layer has natively
  * (`A/dbt/fal/adapters/teleport/info.py:8-73`).
  *
  * The active session's Hadoop conf (when one exists) carries
  * credentials/endpoint config for object stores; outside a session the
  * default `Configuration` handles `file://` and plain paths.
  */
object FsIO {
  private[api] def hadoopConf: Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  def exists(path: String): Boolean = {
    val p = new Path(path)
    fsOf(p).exists(p)
  }

  def readString(path: String): String = {
    val p = new Path(path)
    val in = fsOf(p).open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  def writeString(path: String, content: String): Unit = {
    val p = new Path(path)
    val out = fsOf(p).create(p, /* overwrite = */ true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def child(dir: String, name: String): String =
    new Path(dir, name).toString
  def fileName(path: String): String = new Path(path).getName
  def parent(path: String): String = new Path(path).getParent.toString

  /** The ONE recursive leaf-file walk: every file under `root` whose
    * path `keep` accepts (a file `root` is its own only leaf; a missing
    * `root` has none). Filesystem metadata only, no Spark job. Walks
    * with `listStatus`, not `listFiles`: the local filesystem's
    * `LocatedFileStatus` stats each file's permissions after the
    * listing (an `ls` fork per file without native IO), and a file a
    * concurrent compaction vacuums in between fails that stat with a
    * bare RuntimeException, while `listStatus` skips names that
    * vanished and reports a vanished directory as
    * FileNotFoundException (which the in-place writers' callers
    * already treat as "re-read the current version"). Checksum
    * sidecars stay hidden, as with `listFiles`. */
  private[graft] def leafStatuses(fs: FileSystem, root: Path)(
      keep: Path => Boolean): Seq[FileStatus] = {
    def walk(d: Path): Seq[FileStatus] =
      fs.listStatus(d).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (keep(st.getPath)) Seq(st)
        else Nil
      }
    if (!fs.exists(root)) Seq.empty else walk(root)
  }

  /** The parquet data files under a version directory — a single
    * definition of "what counts as a data file" for the
    * append/compaction/delete paths. */
  private def parquetStatuses(dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    leafStatuses(fsOf(p), p)(_.getName.endsWith(".parquet"))
  }

  /** Sizes of the parquet data files under a version directory
    * (recursive). */
  def parquetSizes(dir: String): Seq[Long] =
    parquetStatuses(dir).map(_.getLen)

  def deleteTree(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) { fs.delete(p, /* recursive = */ true); () }
  }

  /** Full paths of the parquet data files under a version directory
    * (recursive). */
  def parquetFiles(dir: String): Seq[String] =
    parquetStatuses(dir).map(_.getPath.toString)

  /** Delete one data file (no-op when already absent). */
  def deleteFile(path: String): Unit = {
    val p = new Path(path)
    val fs = fsOf(p)
    if (fs.exists(p)) { fs.delete(p, /* recursive = */ false); () }
  }
}
