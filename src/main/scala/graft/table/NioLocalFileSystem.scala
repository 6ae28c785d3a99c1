package graft.table

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** The checksummed local file system, with permissions set in-process.
  *
  * Without libhadoop, the stock `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file and directory it creates — part files, their
  * `.crc` siblings, committer temp dirs, manifests — which is most of the
  * fixed cost of a small snapshot commit. This raw layer sets the nine
  * permission bits through `java.nio`; only a sticky bit (which POSIX file
  * attributes cannot express) still goes through the stock call.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
  }

  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    import PosixFilePermission._
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
        x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) s.add(r)
      if (a.implies(FsAction.WRITE)) s.add(w)
      if (a.implies(FsAction.EXECUTE)) s.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    s
  }

  val ImplKey = "fs.file.impl"
  /** Default resource mapping `fs.file.impl` to this class. */
  private val Resource = "graft/nio-local-fs.xml"
  private var installed = false

  /** Make this class the `file://` default of every Hadoop `Configuration`
    * (Spark's own included) unless one of `confs` already names an
    * implementation — a deployment's `core-site.xml`, an explicit
    * `fs.file.impl` or Spark's `spark.hadoop.fs.file.impl` keeps its
    * choice. The cached `file://` instance — whichever class the service
    * loader picked, e.g. Hive's `ProxyLocalFileSystem` when hive-exec is on
    * the classpath — is dropped, so later `FileSystem.get` calls (Spark's
    * writers too) build this class; other cached file systems stay open.
    * Idempotent. */
  def installDefault(confs: Configuration*): Unit = synchronized {
    if (!installed && confs.nonEmpty && confs.forall(_.get(ImplKey) == null)) {
      Configuration.addDefaultResource(Resource)
      val cached = FileSystem.getLocal(confs.head)
      if (!cached.isInstanceOf[NioLocalFileSystem]) cached.close()
      installed = true
    }
  }
}
