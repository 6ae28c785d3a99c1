package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.table.{NioLocalFileSystem, SnapshotTable}

class NioLocalFileSystemSpec extends AnyFunSuite {

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def modeOf(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(new java.io.File(p.toUri).toPath))

  test("create and mkdirs leave exactly the requested permission") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "000")
    val fs = new NioLocalFileSystem
    fs.initialize(new URI("file:///"), conf)
    try {
      val dir = new Path(new java.io.File(SparkTestBase.tmpDir("niofs")).toURI)
      Seq("750", "705", "777", "700", "511").foreach { m =>
        val d = new Path(dir, s"d$m")
        assert(fs.mkdirs(d, perm(m)))
        assert(modeOf(d) == perm(m).toString, s"dir mode $m")
      }
      Seq("640", "600", "604", "755", "444").foreach { m =>
        val f = new Path(dir, s"f$m")
        val out = fs.create(f, perm(m), false, 4096, 1.toShort, 1L << 20, null)
        try out.write(Array[Byte](1, 2, 3)) finally out.close()
        assert(modeOf(f) == perm(m).toString, s"file mode $m")
      }
      // the sticky bit, which java.nio cannot express, takes the stock path
      val sticky = new Path(dir, "sticky")
      assert(fs.mkdirs(sticky))
      fs.setPermission(sticky, perm("1777"))
      assert(fs.getFileStatus(sticky).getPermission == perm("1777"))
      assert(modeOf(sticky) == "rwxrwxrwx")
    } finally fs.close()
  }

  test("a table installs it as the file:// default when none is configured") {
    new SnapshotTable(SparkTestBase.tmpDir("niofs-table"))
    val conf = new Configuration()
    assert(conf.get(NioLocalFileSystem.ImplKey) == classOf[NioLocalFileSystem].getName)
    assert(FileSystem.getLocal(conf).isInstanceOf[NioLocalFileSystem])
  }

  test("a preset fs.file.impl is left in place") {
    val stock = classOf[LocalFileSystem].getName
    val conf = new Configuration()
    conf.set(NioLocalFileSystem.ImplKey, stock)
    NioLocalFileSystem.installDefault(conf)
    assert(conf.get(NioLocalFileSystem.ImplKey) == stock)
    val fs = FileSystem.newInstance(new URI("file:///"), conf)
    try assert(fs.getClass == classOf[LocalFileSystem]) finally fs.close()
  }
}
