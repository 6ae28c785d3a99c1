package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a count of table metadata operations:
  * listings, status probes, mkdirs, renames, deletes, and opens/creates of
  * files that are not parquet data parts (manifests, HEAD, bank state).
  * Traced runs install it for `file://` (see [[CountingLocalFileSystem.install]]). */
class CountingLocalFileSystem extends LocalFileSystem {
  import CountingLocalFileSystem.ops

  private def meta(p: Path): Unit =
    if (!p.getName.startsWith("part-") && !p.getName.startsWith(".part-")) ops.incrementAndGet()

  override def listStatus(f: Path): Array[FileStatus] = { ops.incrementAndGet(); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { ops.incrementAndGet(); super.getFileStatus(f) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    ops.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def rename(src: Path, dst: Path): Boolean = { ops.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    ops.incrementAndGet(); super.delete(f, recursive)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { meta(f); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    meta(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object CountingLocalFileSystem {
  val ops = new AtomicLong()

  /** Make every new Hadoop `Configuration` (the engine builds its own) map
    * `file://` to this class, and drop file systems cached before. */
  def install(): Unit = {
    org.apache.hadoop.conf.Configuration.addDefaultResource("perfbench-trace-site.xml")
    org.apache.hadoop.fs.FileSystem.closeAll()
  }
}
