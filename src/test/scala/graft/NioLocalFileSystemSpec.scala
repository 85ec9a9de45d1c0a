package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.util.EnumSet
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioLocalFs}

/** The `file:` filesystem GraftSession registers must behave like
  * Hadoop's stock local classes: same permission bits, same rename
  * refusals, same symlink answers, minus the process spawns.
  */
class NioLocalFileSystemSpec extends SparkSpec {

  private val root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def fileSystem(fs: FileSystem, c: Configuration): FileSystem = { fs.initialize(root, c); fs }

  /** Octal mode (sticky bit included) of every path under `dir`, keyed by
    * relative path, checksum side files included. */
  private def modes(dir: java.nio.file.Path): Map[String, String] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff).toOctalString
    }.toMap

  /** The same creates, mkdirs and chmods through both Hadoop APIs. */
  private def populate(fs: FileSystem, fc: FileContext, dir: String): Unit = {
    fs.mkdirs(new Path(s"$dir/a/b"))
    fs.mkdirs(new Path(s"$dir/m"), new FsPermission("750"))
    fs.create(new Path(s"$dir/a/b/f")).close()
    fs.create(new Path(s"$dir/g"), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
    fs.create(new Path(s"$dir/t")).close()
    fs.setPermission(new Path(s"$dir/t"), new FsPermission("604"))
    fs.mkdirs(new Path(s"$dir/sticky"))
    fs.setPermission(new Path(s"$dir/sticky"), new FsPermission("1777"))
    fc.mkdir(new Path(s"$dir/c/d"), FsPermission.getDirDefault, true)
    fc.create(new Path(s"$dir/c/d/h"), EnumSet.of(CreateFlag.CREATE)).close()
    fc.create(new Path(s"$dir/c/nocrc"), EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.checksumParam(Options.ChecksumOpt.createDisabled())).close()
  }

  test("files and dirs get the stock class's permission bits, umask included") {
    for (umask <- Seq("022", "027", "077")) {
      val c = conf(umask)
      val stockDir = Files.createTempDirectory("graft-fs-stock")
      val nioDir = Files.createTempDirectory("graft-fs-nio")
      populate(fileSystem(new LocalFileSystem(new RawLocalFileSystem), c),
        FileContext.getFileContext(AbstractFileSystem.get(root, c), c), stockDir.toString)
      val spawned = ShellSpawns(populate(fileSystem(new NioLocalFileSystem, c),
        FileContext.getFileContext(new NioLocalFs(root, c), c), nioDir.toString))
      assert(spawned.size === 1, s"only the sticky chmod takes Hadoop's shell route: $spawned")
      val stock = modes(stockDir)
      assert(AbstractFileSystem.get(root, c).getClass.getName === "org.apache.hadoop.fs.local.LocalFs")
      assert(stock.contains("a/b/.f.crc") && stock.contains("c/d/.h.crc"), stock)
      assert(stock("sticky") === "1777")
      assert(modes(nioDir) === stock, s"umask $umask")
    }
  }

  test("FileContext.rename refuses an existing destination without OVERWRITE") {
    val c = conf("022")
    val fc = FileContext.getFileContext(new NioLocalFs(root, c), c)
    val dir = Files.createTempDirectory("graft-fs-rename").toString
    val (src, dst) = (new Path(s"$dir/src"), new Path(s"$dir/dst"))
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    write(src, "new"); write(dst, "old")
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(Files.readString(Paths.get(s"$dir/dst")) === "old")
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(Files.readString(Paths.get(s"$dir/dst")) === "new")
    assert(!Files.exists(Paths.get(s"$dir/src")) && !Files.exists(Paths.get(s"$dir/.src.crc")))
    assert(Files.exists(Paths.get(s"$dir/.dst.crc")))
  }

  test("a real symlink still reports isSymlink and its target") {
    val c = conf("022")
    val dir = Files.createTempDirectory("graft-fs-link")
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val plain = new Path(dir.resolve("target").toString)
    for (fs <- Seq(fileSystem(new LocalFileSystem(new RawLocalFileSystem), c),
        fileSystem(new NioLocalFileSystem, c))) {
      val st = fs.getFileLinkStatus(new Path(link.toString))
      assert(st.isSymlink, fs.getClass.getName)
      assert(st.getSymlink === fs.makeQualified(new Path(target.toString)))
      assert(fs.getLinkTarget(new Path(link.toString)) === new Path(target.toString))
      assert(!fs.getFileLinkStatus(plain).isSymlink)
      assert(fs.getFileLinkStatus(plain).getLen === 1)
    }
    // FileContext (stream checkpoints) answers as the stock LocalFs does
    def viaContext(afs: AbstractFileSystem) = {
      val st = FileContext.getFileContext(afs, c).getFileLinkStatus(new Path(link.toString))
      (st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getLen)
    }
    assert(viaContext(new NioLocalFs(root, c)) === viaContext(AbstractFileSystem.get(root, c)))
    assert(viaContext(new NioLocalFs(root, c))._1)
  }

  test("a GraftSession session resolves file:/// to the in-process classes") {
    val hc = spark.sessionState.newHadoopConf()
    assert(new Path("file:///").getFileSystem(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(hc).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem.isInstanceOf[NioLocalFs])
    assert(AbstractFileSystem.get(root, hc).isInstanceOf[NioLocalFs])
  }
}
