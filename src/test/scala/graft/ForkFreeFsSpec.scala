package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, FsConstants, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The fork-free `file:` filesystem behaves like the stock one where the
  * engine relies on it: the same permission bits, the same link status,
  * Hadoop's checksums, the no-overwrite rename a metadata log's second
  * writer must lose, and both APIs resolving to it on the engine session. */
class ForkFreeFsSpec extends SparkSpec {

  private val conf = new Configuration()
  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff
  private def hpath(p: JPath): Path = new Path(p.toString)
  private def oct(s: String): Int = Integer.parseInt(s, 8)
  private def perm(s: String): FsPermission = new FsPermission(oct(s).toShort)

  test("files and directories get the stock RawLocalFileSystem's permissions") {
    val base = Files.createTempDirectory("graft_forkfree_perms")
    def build(fs: RawLocalFileSystem, name: String): Map[String, JPath] = {
      val d = Files.createDirectory(base.resolve(name))
      def at(p: String) = hpath(d.resolve(p))
      fs.create(at("plain")).close()
      fs.create(at("explicit"), perm("640"), false, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(at("dir"))
      fs.mkdirs(at("nested/a/b"), perm("750"))
      fs.create(at("chmod")).close()
      fs.setPermission(at("chmod"), perm("604"))
      fs.mkdirs(at("chmoddir"))
      fs.setPermission(at("chmoddir"), perm("711"))
      Seq("plain", "explicit", "dir", "nested", "nested/a", "nested/a/b",
        "chmod", "chmoddir").map(p => p -> d.resolve(p)).toMap
    }
    val ours  = build(raw(new ForkFreeRawLocalFileSystem), "ours")
    val stock = build(raw(new RawLocalFileSystem), "stock")
    for ((name, p) <- ours)
      assert(Files.getPosixFilePermissions(p) == Files.getPosixFilePermissions(stock(name)),
        s"$name: ${mode(p).toOctalString} vs stock ${mode(stock(name)).toOctalString}")
    assert(mode(ours("chmod")) == oct("604"))
    assert(mode(ours("chmoddir")) == oct("711"))
  }

  test("a sticky-bit directory still gets its sticky bit") {
    val fs = raw(new ForkFreeRawLocalFileSystem)
    val d  = Files.createTempDirectory("graft_forkfree_sticky").resolve("t")
    assert(fs.mkdirs(hpath(d)))
    fs.setPermission(hpath(d), perm("1755"))
    assert(mode(d) == oct("1755"))
  }

  test("getFileLinkStatus is getFileStatus on a regular file, throws on a " +
    "missing path and reports a real or dangling symlink and its target") {
    val fs    = raw(new ForkFreeRawLocalFileSystem)
    val stock = raw(new RawLocalFileSystem)
    val base  = Files.createTempDirectory("graft_forkfree_links")
    val file  = Files.writeString(base.resolve("f"), "x")
    val a = fs.getFileLinkStatus(hpath(file))
    val b = fs.getFileStatus(hpath(file))
    assert((a.getPath, a.isFile, a.isSymlink, a.getLen, a.getModificationTime,
      a.getPermission, a.getOwner, a.getGroup) ==
      (b.getPath, b.isFile, b.isSymlink, b.getLen, b.getModificationTime,
        b.getPermission, b.getOwner, b.getGroup))
    assert(!a.isSymlink)
    intercept[FileNotFoundException](fs.getFileLinkStatus(hpath(base.resolve("missing"))))
    val link     = Files.createSymbolicLink(base.resolve("link"), file)
    val dangling = Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    for ((l, target) <- Seq(link -> file, dangling -> base.resolve("gone"))) {
      val s = fs.getFileLinkStatus(hpath(l))
      assert(s.isSymlink, s"$l")
      assert(s.getSymlink.toUri.getPath == target.toString)
      assert(s.getSymlink == stock.getFileLinkStatus(hpath(l)).getSymlink)
    }
  }

  test("checksums are still written and verified through both APIs") {
    val base = Files.createTempDirectory("graft_forkfree_crc")
    val lfs  = new ForkFreeLocalFileSystem
    lfs.initialize(URI.create("file:///"), conf)
    val fc = FileContext.getFileContext(
      new ForkFreeLocalFs(FsConstants.LOCAL_FS_URI, conf), conf)
    val bytes = Array.tabulate[Byte](4096)(_.toByte)
    val viaFs = base.resolve("via-fs")
    val out   = lfs.create(hpath(viaFs))
    out.write(bytes); out.close()
    val viaFc = base.resolve("via-fc")
    val out2  = fc.create(hpath(viaFc), java.util.EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    out2.write(bytes); out2.close()
    for (p <- Seq(viaFs, viaFc)) {
      assert(Files.exists(base.resolve(s".${p.getFileName}.crc")), s"$p has no .crc")
      val flipped = Files.readAllBytes(p)
      flipped(100) = (flipped(100) ^ 1).toByte
      Files.write(p, flipped)
    }
    // Both are read back through FileContext: on a checksum error the
    // FileSystem API's LocalFileSystem moves the file into a `bad_files`
    // dir at the top of its device, while ChecksumFs only throws. The
    // `.crc` the FileSystem API wrote is the same format, so its flip
    // fails the same way. (ChecksumFs checks `open(path, bufferSize)`;
    // FilterFs passes a bare `open(path)` to the raw store, as it does
    // for Hadoop's own LocalFs.)
    for (p <- Seq(viaFs, viaFc)) intercept[ChecksumException] {
      val in = fc.open(hpath(p), 4096)
      try in.readAllBytes() finally in.close()
    }
  }

  test("a FileContext rename without OVERWRITE onto an existing file fails") {
    val base = Files.createTempDirectory("graft_forkfree_rename")
    val fc = FileContext.getFileContext(
      new ForkFreeLocalFs(FsConstants.LOCAL_FS_URI, conf), conf)
    for (n <- Seq("src", "dst")) {
      val o = fc.create(hpath(base.resolve(n)), java.util.EnumSet.of(CreateFlag.CREATE))
      o.write(n.getBytes); o.close()
    }
    intercept[FileAlreadyExistsException](fc.rename(
      hpath(base.resolve("src")), hpath(base.resolve("dst")), Options.Rename.NONE))
    assert(Files.readString(base.resolve("dst")) == "dst")
    fc.rename(hpath(base.resolve("src")), hpath(base.resolve("dst")),
      Options.Rename.OVERWRITE)
    assert(Files.readString(base.resolve("dst")) == "src")
    assert(Files.list(base).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("dst", ".dst.crc"))
  }

  test("the engine session resolves file: to the fork-free classes in both APIs") {
    val hc = spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///tmp"), hc).isInstanceOf[ForkFreeLocalFileSystem])
    assert(FileSystem.get(URI.create("file:///tmp"), hc)
      .asInstanceOf[ForkFreeLocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileContext.getFileContext(hc).getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
    assert(FileContext.getFileContext(URI.create("file:///tmp"), hc)
      .getDefaultFileSystem.isInstanceOf[ForkFreeLocalFs])
  }
}
