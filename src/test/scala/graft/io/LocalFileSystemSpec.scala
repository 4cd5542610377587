package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[NioLocalFileSystem]] and [[NioLocalFs]] leave the same files with
  * the same modes, and report the same statuses, as the stock local
  * classes they replace: each case runs one operation on both, in
  * separate temp dirs, and compares.
  */
class LocalFileSystemSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  /** Hadoop's stock `LocalFileSystem`, or the nio one, on `c`. */
  private def localFs(nio: Boolean, c: Configuration): FileSystem = {
    val fs = if (nio) new NioLocalFileSystem else new LocalFileSystem(new RawLocalFileSystem)
    fs.initialize(root, c)
    fs
  }

  private def fileContext(c: Configuration, impl: String): FileContext = {
    val withImpl = new Configuration(c)
    withImpl.set("fs.AbstractFileSystem.file.impl", impl)
    FileContext.getFileContext(root, withImpl)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every file and directory under `dir`, relative, with its mode. */
  private def modes(dir: JPath): Map[String, Int] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  /** Run `op` against a fresh temp dir for the stock and the nio side;
    * return the two trees' modes.
    */
  private def both(op: (Boolean, JPath) => Unit): (Map[String, Int], Map[String, Int]) = {
    val stock = Files.createTempDirectory("graft-fs-stock")
    val nio = Files.createTempDirectory("graft-fs-nio")
    op(false, stock)
    op(true, nio)
    (modes(stock), modes(nio))
  }

  private def hpath(dir: JPath, rel: String) = new Path(dir.toUri.toString + rel)

  private val octal = Integer.parseInt(_: String, 8)

  for ((umask, file, dir) <- Seq(("022", "644", "755"), ("077", "600", "700"))) {
    test(s"umask $umask: create and mkdirs leave the same modes on data, .crc files and dirs") {
      val c = conf(umask)
      val (stock, nio) = both { (isNio, d) =>
        val fs = localFs(isNio, c)
        val out = fs.create(hpath(d, "a/b/part-0"))
        out.write(("x" * 1000).getBytes)
        out.close()
        fs.mkdirs(hpath(d, "c/d"))
        fs.mkdirs(hpath(d, "e"), new FsPermission(octal("751").toShort))
      }
      assert(nio == stock)
      assert(stock("a/b/part-0") == octal(file))
      assert(stock("a/b/.part-0.crc") == octal(file))
      assert(stock("a/b") == octal(dir) && stock("c/d") == octal(dir))
      assert(nio.size == 7)
    }

    test(s"umask $umask: FileContext create + rename(OVERWRITE) leaves the same modes") {
      val c = conf(umask)
      val (stock, nio) = both { (isNio, d) =>
        val fc = fileContext(c, if (isNio) classOf[NioLocalFs].getName else "org.apache.hadoop.fs.local.LocalFs")
        for (name <- Seq("offsets/0", "offsets/.0.tmp")) {
          val out = fc.create(hpath(d, name), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
            Options.CreateOpts.createParent())
          out.write(name.getBytes)
          out.close()
        }
        fc.rename(hpath(d, "offsets/.0.tmp"), hpath(d, "offsets/0"), Options.Rename.OVERWRITE)
      }
      assert(nio == stock)
      assert(stock.keySet == Set("offsets", "offsets/0", "offsets/.0.crc"))
      assert(stock("offsets/0") == octal(file) && stock("offsets/.0.crc") == octal(file))
    }
  }

  test("getFileLinkStatus on a regular file and a directory matches the stock status") {
    val c = conf("022")
    val (stock, nio) = (localFs(false, c), localFs(true, c))
    val d = Files.createTempDirectory("graft-fs-status")
    Files.writeString(d.resolve("f"), "hello")
    for (p <- Seq(hpath(d, "f"), hpath(d, ""))) {
      val (s, n) = (stock.getFileLinkStatus(p), nio.getFileLinkStatus(p))
      assert(n.getLen == s.getLen)
      assert(n.isDirectory == s.isDirectory)
      assert(n.isSymlink == s.isSymlink)
      assert(n.getModificationTime == s.getModificationTime)
      assert(n.getPermission == s.getPermission)
      assert(n.getOwner == s.getOwner)
      assert(n.getGroup == s.getGroup)
    }
  }

  test("a symlink's link status comes from the stock code") {
    val c = conf("022")
    val d = Files.createTempDirectory("graft-fs-link")
    Files.writeString(d.resolve("target"), "hello")
    Files.createSymbolicLink(d.resolve("link"), d.resolve("target"))
    val link = new Path(d.resolve("link").toString)
    val (s, n) = (localFs(false, c).getFileLinkStatus(link), localFs(true, c).getFileLinkStatus(link))
    assert(n.isSymlink && s.isSymlink)
    assert(n.getSymlink == s.getSymlink)
    assert(n.getPath == s.getPath)
  }

  test("a sticky bit, or a setgid directory, is set by the stock code with the same result") {
    val c = conf("022")
    val (stock, nio) = both { (isNio, d) =>
      val fs = localFs(isNio, c)
      fs.mkdirs(hpath(d, "sticky"))
      fs.setPermission(hpath(d, "sticky"), new FsPermission(octal("1777").toShort))
      fs.mkdirs(hpath(d, "shared"))
      Files.setAttribute(d.resolve("shared"), "unix:mode", octal("2775"))
      fs.setPermission(hpath(d, "shared"), new FsPermission(octal("750").toShort))
    }
    assert(nio == stock)
    assert(nio("sticky") == octal("1777"))
    assert(nio("shared") == octal("2750"))
  }

  test("rename onto an existing file returns false, as on the class file: resolved to before") {
    val c = conf("022")
    // Hive's, registered for file: by the Spark jars' service files
    val proxy = Class.forName("org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem")
      .getDeclaredConstructor().newInstance().asInstanceOf[FileSystem]
    proxy.initialize(root, c)
    val (before, after) = both { (isNio, d) =>
      val fs = if (isNio) localFs(true, c) else proxy
      Seq("src", "dst", "moved").foreach(n => Files.writeString(d.resolve(n), n))
      assert(!fs.rename(hpath(d, "src"), hpath(d, "dst")))
      assert(fs.rename(hpath(d, "moved"), hpath(d, "fresh")))
      assert(Files.readString(d.resolve("dst")) == "dst")
    }
    assert(after == before)
    assert(after.keySet == Set("src", "dst", "fresh"))
  }

  test("a missing path throws FileNotFoundException from both status calls") {
    val c = conf("022")
    val missing = hpath(Files.createTempDirectory("graft-fs-missing"), "nope")
    for (fs <- Seq(false, true).map(localFs(_, c))) {
      intercept[FileNotFoundException](fs.getFileStatus(missing))
      intercept[FileNotFoundException](fs.getFileLinkStatus(missing))
    }
  }
}
