package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Path => JPath}

import graft.fs.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.conf.Configuration
import org.scalatest.funsuite.AnyFunSuite

/** The session's `file:` filesystem (graft.fs) must be indistinguishable
  * from Hadoop's own local filesystem, apart from not forking. */
class LocalFsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private def conf: Configuration = spark.sparkContext.hadoopConfiguration

  private def init[F <: FileSystem](fs: F): F = { fs.initialize(FileSystem.getDefaultUri(conf), conf); fs }
  private def stock = init(new RawLocalFileSystem)
  private def nio = init(new NioRawLocalFileSystem)
  private def mode(p: JPath): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
  private def hp(p: JPath) = new Path(p.toString)

  test("create 0640 and mkdirs 0750 leave the mode Hadoop's shell chmod leaves") {
    val dir = Files.createTempDirectory("graft_localfs_")
    def made(fs: FileSystem, tag: String): (String, String) = {
      val f = dir.resolve(s"$tag.bin")
      fs.create(hp(f), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
      val d = dir.resolve(s"$tag.d/sub")
      assert(fs.mkdirs(hp(d), new FsPermission("750")))
      (mode(f), mode(d))
    }
    val viaShell = made(stock, "stock")
    assert(made(nio, "nio") === viaShell)
    val umask = FsPermission.getUMask(conf)
    assert(viaShell === (new FsPermission("640").toString,
      new FsPermission("750").applyUMask(umask).toString))
    // setPermission on its own, including a mode the umask would clear
    nio.setPermission(hp(dir.resolve("nio.bin")), new FsPermission("602"))
    assert(mode(dir.resolve("nio.bin")) === "rw-----w-")
  }

  test("getFileLinkStatus: symlink keeps its target, plain file = getFileStatus, missing throws") {
    val dir = Files.createTempDirectory("graft_localfs_")
    val target = Files.write(dir.resolve("target.txt"), "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(dir.resolve("link.txt"), target)
    val fs = nio

    val ls = fs.getFileLinkStatus(hp(link))
    assert(ls.isSymlink)
    assert(ls.getSymlink.toUri.getPath === target.toString)

    def fields(s: FileStatus) = (s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    for (p <- Seq(target, dir)) {
      assert(fields(fs.getFileLinkStatus(hp(p))) === fields(fs.getFileStatus(hp(p))))
      assert(fields(fs.getFileLinkStatus(hp(p))) === fields(stock.getFileLinkStatus(hp(p))))
    }
    intercept[FileNotFoundException](fs.getFileLinkStatus(hp(dir.resolve("missing"))))
  }

  test("the shared session resolves file: to graft.fs for FileSystem and FileContext") {
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass === classOf[NioRawLocalFileSystem])
    assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])
  }
}
