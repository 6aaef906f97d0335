package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, FsConstants, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[SpawnFreeLocalFs]] against Hadoop's stock `LocalFs` (`FileContext`)
  * and `LocalFileSystem` (`FileSystem`), side by side in one temporary
  * directory: same modes, same `.crc` siblings, same rename and link
  * status results.
  */
class SpawnFreeLocalFsSpec extends AnyFunSuite {

  private val stock = FileContext.getFileContext(FsConstants.LOCAL_FS_URI, new Configuration())
  private val free = {
    val conf = new Configuration()
    conf.set(SpawnFreeLocalFs.ConfKey, classOf[SpawnFreeLocalFs.LocalFs].getName)
    FileContext.getFileContext(FsConstants.LOCAL_FS_URI, conf)
  }
  private val localFs = FileSystem.getLocal(new Configuration())

  private def hpath(p: JPath) = new Path(p.toUri)
  /** Permission bits on disk, special bits included; links not followed. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff
  private def octal(s: String) = Integer.parseInt(s, 8)
  private def write(fc: FileContext, p: JPath, text: String): Unit = {
    val out = fc.create(hpath(p), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }
  private def listing(dir: JPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  test("the spawn-free FileContext runs Hadoop's checksummed stack over SpawnFreeLocalFs") {
    assert(free.getDefaultFileSystem.isInstanceOf[SpawnFreeLocalFs.LocalFs])
    assert(stock.getDefaultFileSystem.getClass.getName == "org.apache.hadoop.fs.local.LocalFs")
  }

  test("create and mkdir: same modes and .crc siblings as LocalFs and LocalFileSystem") {
    val root = Files.createTempDirectory("graft_sfl_create")
    def viaContext(fc: FileContext, tag: String): JPath = {
      val sub = root.resolve(s"$tag/a/b")
      fc.mkdir(hpath(sub), FsPermission.getDirDefault, true)
      write(fc, sub.resolve("f"), "payload")
      sub
    }
    val viaStock = viaContext(stock, "stock")
    val viaFree = viaContext(free, "free")
    val viaFs = root.resolve("fs/a/b")
    assert(localFs.mkdirs(hpath(viaFs)))
    val out = localFs.create(hpath(viaFs.resolve("f")))
    try out.write("payload".getBytes(UTF_8)) finally out.close()

    def shape(sub: JPath) = (
      Seq(sub.getParent, sub, sub.resolve("f"), sub.resolve(".f.crc")).map(mode),
      listing(sub),
      Files.readAllBytes(sub.resolve(".f.crc")).toSeq)
    assert(shape(viaStock)._1 == Seq("755", "755", "644", "644").map(octal))
    assert(shape(viaFree) == shape(viaStock))
    assert(shape(viaFs) == shape(viaStock))
  }

  test("rename with OVERWRITE replaces the target and its .crc as LocalFs does") {
    val root = Files.createTempDirectory("graft_sfl_rename")
    def renamed(fc: FileContext, tag: String) = {
      val dir = Files.createDirectories(root.resolve(tag))
      write(fc, dir.resolve("dst"), "old contents")
      write(fc, dir.resolve("src"), "new")
      fc.rename(hpath(dir.resolve("src")), hpath(dir.resolve("dst")), Options.Rename.OVERWRITE)
      val in = fc.open(hpath(dir.resolve("dst"))) // reads through the checksum
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (listing(dir), text, Files.readAllBytes(dir.resolve(".dst.crc")).toSeq,
        Seq("dst", ".dst.crc").map(n => mode(dir.resolve(n))))
    }
    val want = renamed(stock, "stock")
    assert(want._1 == Seq(".dst.crc", "dst") && want._2 == "new")
    assert(renamed(free, "free") == want)
  }

  test("getFileLinkStatus: file, directory, missing path, symlink, dangling symlink") {
    val root = Files.createTempDirectory("graft_sfl_links")
    val file = Files.write(root.resolve("file"), "x".getBytes(UTF_8))
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def status(fc: FileContext, p: JPath) = Try(fc.getFileLinkStatus(hpath(p))).map { st =>
      (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
        if (st.isSymlink) st.getSymlink else null, st.getLen)
    }.toEither.left.map(_.getClass)
    for (p <- Seq(file, dir, root.resolve("missing"), link, dangling))
      assert(status(free, p) == status(stock, p), s"$p")
    assert(status(free, file).map(_._2) == Right(true))
    assert(status(free, dir).map(_._3) == Right(true))
    assert(status(free, root.resolve("missing")) == Left(classOf[FileNotFoundException]))
  }

  test("setPermission: plain modes in-process; sticky and setgid bits as Hadoop sets them") {
    val root = Files.createTempDirectory("graft_sfl_perm")
    // initial modes a FsPermission cannot express (setgid) come from chmod
    def after(fc: FileContext, tag: String, initial: Option[String], perm: String): Int = {
      val dir = Files.createDirectory(root.resolve(tag))
      initial.foreach(m => new ProcessBuilder("chmod", m, dir.toString).start().waitFor())
      fc.setPermission(hpath(dir), new FsPermission(octal(perm).toShort))
      mode(dir)
    }
    for ((initial, perm) <- Seq((None, "700"), (None, "1755"), (Some("1777"), "750"),
        (Some("2755"), "750"))) {
      val tag = s"${initial.getOrElse("")}_$perm"
      assert(after(free, s"free$tag", initial, perm) == after(stock, s"stock$tag", initial, perm),
        s"$initial -> $perm")
    }
    // java.nio cannot set a sticky bit: it being set shows Hadoop's path ran
    assert(after(free, "sticky", None, "1755") == octal("1755"))
  }
}
