package graft.fs

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, CreateFlag, FSDataInputStream, FileAlreadyExistsException, FileContext, FileSystem, FsConstants, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The subprocess-free local filesystem behaves like the stock one it
  * replaces: every check runs the same steps on both, side by side, on
  * a temp directory, through the FileSystem API (`LocalFileSystem`)
  * and the FileContext API (`local.LocalFs`).
  */
class NioLocalFsSpec extends AnyFunSuite {

  private def conf(umask: Option[String]): Configuration = {
    val c = new Configuration()
    umask.foreach(c.set("fs.permissions.umask-mode", _))
    c
  }

  private def fileSystem(c: Configuration, nio: Boolean): FileSystem = {
    // checksum failures must not move files into a `bad_files` directory
    // at the mount root; reporting is inherited unchanged either way
    val fs =
      if (nio) new NioLocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
            sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }
      else new LocalFileSystem {
        override def reportChecksumFailure(p: Path, in: FSDataInputStream, inPos: Long,
            sums: FSDataInputStream, sumsPos: Long): Boolean = false
      }
    fs.initialize(FsConstants.LOCAL_FS_URI, c)
    fs
  }

  private def fileContext(c: Configuration, nio: Boolean): FileContext = {
    val cc = new Configuration(c)
    if (nio) cc.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, cc)
  }

  private def tempDir(tag: String): Path =
    new Path(Files.createTempDirectory(s"graft-fs-$tag-").toUri)

  /** Mode bits, setuid/setgid/sticky included. */
  private def mode(p: Path): Int =
    Files.getAttribute(Paths.get(p.toUri), "unix:mode").asInstanceOf[Int] & 0xfff

  private def write(fs: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = fs.create(p)
    try out.write(bytes) finally out.close()
  }

  private def write(fc: FileContext, p: Path, bytes: Array[Byte]): Unit = {
    val out = fc.create(p, EnumSet.of(CreateFlag.CREATE),
      Options.CreateOpts.createParent())
    try out.write(bytes) finally out.close()
  }

  private def flipFirstByte(p: Path): Unit = {
    val raf = new java.io.RandomAccessFile(Paths.get(p.toUri).toFile, "rw")
    try { val b = raf.read(); raf.seek(0); raf.write(b ^ 0xff) } finally raf.close()
  }

  private val relPaths = Seq("a", "a/b", "a/b/f", "a/b/.f.crc", "d", "d/e",
    "sticky", "x", "x/y", "x/y/g", "x/y/.g.crc")

  /** The same files and directories, made through both APIs. */
  private def makeTree(root: Path, c: Configuration, nio: Boolean): Unit = {
    val fs = fileSystem(c, nio)
    write(fs, new Path(root, "a/b/f"), Array[Byte](1, 2, 3))
    fs.mkdirs(new Path(root, "d/e"))
    // mkdirs masks the sticky bit away; setPermission keeps it
    fs.mkdirs(new Path(root, "sticky"))
    fs.setPermission(new Path(root, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    val fc = fileContext(c, nio)
    fc.mkdir(new Path(root, "x"), FsPermission.getDirDefault, true)
    write(fc, new Path(root, "x/y/g"), Array[Byte](4, 5, 6))
  }

  Seq(None, Some("027")).foreach { umask =>
    test(s"file and directory permissions match stock (umask ${umask.getOrElse("default")})") {
      val c = conf(umask)
      val stock = tempDir("stock")
      val nio = tempDir("nio")
      makeTree(stock, c, nio = false)
      makeTree(nio, c, nio = true)
      relPaths.foreach { rel =>
        assert(mode(new Path(nio, rel)) == mode(new Path(stock, rel)),
          f"$rel: nio ${mode(new Path(nio, rel))}%o vs stock ${mode(new Path(stock, rel))}%o")
      }
      // the sticky bit is not expressible through nio: Hadoop's code set it
      assert((mode(new Path(nio, "sticky")) & 0x200) != 0)
    }
  }

  test("a directory's setgid bit survives setPermission as it does under stock") {
    val c = conf(None)
    val perm = new FsPermission(Integer.parseInt("750", 8).toShort)
    val modes = Seq(false, true).map { nio =>
      val dir = tempDir(if (nio) "sgid-nio" else "sgid-stock")
      val p = Paths.get(dir.toUri).toString
      assume(new ProcessBuilder("chmod", "2755", p).start().waitFor() == 0)
      assume((mode(dir) & 0x400) != 0, "filesystem does not keep setgid")
      fileSystem(c, nio).setPermission(dir, perm)
      mode(dir)
    }
    assert(modes(1) == modes(0), f"nio ${modes(1)}%o vs stock ${modes(0)}%o")
  }

  test("a .crc sidecar is written and a flipped data byte fails the read") {
    Seq(false, true).foreach { nio =>
      val root = tempDir("crc")
      val c = conf(None)
      val fs = fileSystem(c, nio)
      val f = new Path(root, "f")
      write(fs, f, Array.tabulate[Byte](2048)(_.toByte))
      assert(fs.exists(new Path(root, ".f.crc")))
      flipFirstByte(f)
      intercept[ChecksumException] {
        val in = fs.open(f)
        try in.readFully(new Array[Byte](2048)) finally in.close()
      }
      val fc = fileContext(c, nio)
      val g = new Path(root, "g")
      write(fc, g, Array.tabulate[Byte](2048)(_.toByte))
      assert(fc.util.exists(new Path(root, ".g.crc")))
      flipFirstByte(g)
      // FileContext.open(path) skips verification on stock LocalFs as
      // well; open(path, bufferSize) is ChecksumFs's verifying read
      intercept[ChecksumException] {
        val in = fc.open(g, 4096)
        try in.readFully(new Array[Byte](2048)) finally in.close()
      }
    }
  }

  test("FileContext rename without OVERWRITE onto an existing file throws") {
    Seq(false, true).foreach { nio =>
      val root = tempDir("rename")
      val fc = fileContext(conf(None), nio)
      val (a, b) = (new Path(root, "a"), new Path(root, "b"))
      write(fc, a, Array[Byte](1))
      write(fc, b, Array[Byte](2))
      intercept[FileAlreadyExistsException](fc.rename(a, b))
      fc.rename(a, b, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(a) && fc.getFileStatus(b).getLen == 1)
      assert(!fc.util.exists(new Path(root, ".a.crc")))
    }
  }

  test("a symlink's link status reports the link and its target") {
    // scheme-less: stock RawLocalFileSystem hands a `file:` URI string to
    // `readlink`, which then never sees a link (nor does the nio class,
    // as it defers to stock for links)
    val root = Path.getPathWithoutSchemeAndAuthority(tempDir("link"))
    val target = new Path(root, "target")
    write(fileSystem(conf(None), nio = false), target, Array[Byte](1))
    val link = new Path(root, "link")
    Files.createSymbolicLink(Paths.get(link.toString), Paths.get(target.toString))
    val raw = Seq(new org.apache.hadoop.fs.RawLocalFileSystem, new NioRawLocalFileSystem)
      .map { fs => fs.initialize(FsConstants.LOCAL_FS_URI, conf(None)); fs.getFileLinkStatus(link) }
    assert(raw.forall(_.isSymlink))
    assert(raw(1).getSymlink == raw(0).getSymlink)
    val ctx = Seq(false, true).map(nio => fileContext(conf(None), nio).getFileLinkStatus(link))
    assert(ctx.forall(_.isSymlink))
    assert(ctx(1).getSymlink == ctx(0).getSymlink)
  }

  test("a missing path throws FileNotFoundException") {
    val missing = new Path(tempDir("missing"), "nope")
    val raw = new NioRawLocalFileSystem
    raw.initialize(FsConstants.LOCAL_FS_URI, conf(None))
    intercept[FileNotFoundException](raw.getFileLinkStatus(missing))
    intercept[FileNotFoundException](raw.getFileStatus(missing))
    val fc = fileContext(conf(None), nio = true)
    intercept[FileNotFoundException](fc.getFileLinkStatus(missing))
    intercept[FileNotFoundException](fc.getFileStatus(missing))
  }
}
