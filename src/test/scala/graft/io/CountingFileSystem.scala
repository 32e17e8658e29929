package graft.io

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only filesystem (`cntfs:` scheme) that records every
  * `listStatus`, `getFileStatus`, `open`, `create`, `rename` and
  * `delete` with its target path — the instrument behind
  * ScanStatsSpec's listing assertions (plan-time scan sizing must be a
  * pure manifest fold, with no per-generation-dir namenode RPC) and
  * CommitFamilySpec's FS calls per commit family. Only calls made from
  * outside the filesystem count: a listing's own per-entry status
  * lookups, say, are not the caller's calls. Delegates everything to
  * the local filesystem.
  *
  * Statuses are copied into plain [[FileStatus]]es with eager
  * permissions: RawLocalFileSystem's deprecated lazy permission
  * loader does `new java.io.File(status.getPath.toUri)`, which
  * rejects any scheme but `file:` — the copy keeps the cntfs paths
  * while never triggering that loader. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "cntfs"
  override def getUri: java.net.URI = java.net.URI.create("cntfs:///")

  private def eager(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication,
      st.getBlockSize, st.getModificationTime, st.getAccessTime,
      if (st.isDirectory) FsPermission.getDirDefault
      else FsPermission.getFileDefault,
      System.getProperty("user.name"), System.getProperty("user.name"),
      st.getPath)

  private def counted[T](op: String, f: Path)(body: => T): T = {
    val depth = CountingFileSystem.depth
    if (depth.get == 0) CountingFileSystem.calls.add(op -> f.toUri.getPath)
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    counted("listStatus", f)(super.listStatus(f).map(eager))

  override def getFileStatus(f: Path): FileStatus =
    counted("getFileStatus", f)(eager(super.getFileStatus(f)))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f)(super.open(f, bufferSize))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    counted("create", f)(
      super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", src)(super.rename(src, dst))

  override def delete(f: Path, recursive: Boolean): Boolean =
    counted("delete", f)(super.delete(f, recursive))
}

object CountingFileSystem {
  private val calls = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Every counted (operation, path) since the last [[reset]], in
    * call order. */
  def log: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    calls.asScala.toSeq
  }

  /** Calls of `op` on exactly `path`. */
  def count(op: String, path: String): Int = log.count(_ == (op -> path))

  /** listStatus calls that targeted a generation data dir (the
    * expensive per-dir walk class; manifest-file listings on the
    * table dir itself are one call per table and excluded). */
  def dataDirListings: Seq[String] =
    log.collect { case ("listStatus", f) if f.contains("/data/") => f }

  def reset(): Unit = calls.clear()
}
