package graft.queries

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one seam between graft and its lake's files: each operation
  * resolves its Hadoop `FileSystem` here, from the session's Hadoop conf,
  * so a plain path, a `file:` URI and an `s3a://` lake are reached alike.
  * Callers use `exists`, `delete`, `rename`, `listStatus` and
  * `makeQualified` on it directly. The policy kept here:
  *  - small text files (stamps, `vec_w`, IVF meta stats, lineage
  *    sidecars) go through the RAW filesystem of a checksummed one, so
  *    no `.crc` sits beside them: a stamp overwritten by another tool
  *    reads as stale, not as a `ChecksumException`;
  *  - tree walks stay on the checksummed filesystem, whose `listStatus`
  *    hides the `.crc` files that Spark's own writes leave.
  * Resolve once per operation: each resolution copies the Hadoop conf
  * (~0.2 ms).
  */
private[graft] object LakeFs {

  /** The session's Hadoop conf: `spark.hadoop.*` settings included. */
  def conf(s: SparkSession): Configuration = s.sessionState.newHadoopConf()

  /** The filesystem serving `path`. */
  def apply(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(conf(s))

  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** The UTF-8 content of the small file at `path`, None when absent. */
  def readText(fs: FileSystem, path: String): Option[String] =
    try {
      val in = raw(fs).open(new Path(path))
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  /** Replace the small file at `path` (parents created) with `text`. */
  def writeText(fs: FileSystem, path: String, text: String): Unit = {
    val p = new Path(path)
    fs match {
      // a checksum left by a checksummed write would fail the next
      // checked read of the rewritten file
      case c: ChecksumFileSystem => c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      case _ =>
    }
    val out = raw(fs).create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Every file under `p`, none when `p` is missing (or vanishes under
    * a concurrent cleanup). A `listStatus` walk, not `listFiles(p, true)`:
    * the local filesystem's `LocatedFileStatus` loads each file's
    * permissions (a forked process per file without Hadoop native
    * code), ~3 ms per table against ~15 µs for plain `FileStatus` rows.
    */
  def files(fs: FileSystem, p: Path): Seq[FileStatus] =
    (try fs.listStatus(p).toSeq catch { case _: java.io.FileNotFoundException => Nil })
      .flatMap(f => if (f.isDirectory) files(fs, f.getPath) else Seq(f))
}
