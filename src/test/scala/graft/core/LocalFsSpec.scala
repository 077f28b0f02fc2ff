package graft.core

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The in-process `file:` filesystem agrees with Hadoop's stock one on
  * everything the overrides touch: modes after the umask, link status,
  * the sticky-bit fallback and `FileContext` renames. Both sides run
  * from a plain Hadoop `Configuration`, side by side in two directories,
  * and the results are read back through `java.nio`. */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String, afs: String): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", umask)
    c.set("fs.AbstractFileSystem.file.impl", afs)
    c
  }
  private val stockAfs = "org.apache.hadoop.fs.local.LocalFs"
  private val nioAfs = classOf[NioLocalFs].getName

  /** Runs `body` once per filesystem in a fresh directory each. */
  private def bothSides[T](umask: String)(
      body: (RawLocalFileSystem, FileContext, java.nio.file.Path) => T): (T, T) = {
    def side(fs: RawLocalFileSystem, afs: String): T = {
      val c = conf(umask, afs)
      fs.initialize(URI.create("file:///"), c)
      val dir = Files.createTempDirectory("graft-localfs")
      try body(fs, FileContext.getLocalFSFileContext(c), dir)
      finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
    (side(new RawLocalFileSystem, stockAfs), side(new NioRawLocalFileSystem, nioAfs))
  }

  private def mode(p: java.nio.file.Path): String =
    java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("create, mkdirs and FileContext.create set the stock modes under umask 022 and 077") {
    for (umask <- Seq("022", "077")) {
      val (stock, nio) = bothSides(umask) { (fs, fc, dir) =>
        val d = new Path(dir.toString)
        fs.create(new Path(d, "plain.bin")).close()
        fs.mkdirs(new Path(d, "a/b/c"))
        fc.create(new Path(d, "ctx/sub/data.bin"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent()).close()
        Files.walk(dir).iterator().asScala.filter(_ != dir).toSeq
          .map(p => dir.relativize(p).toString -> mode(p)).sorted
      }
      assert(nio == stock, s"umask $umask")
      // the umask applied: nothing is group- or world-writable
      assert(nio.forall { case (_, m) => m(4) == '-' && m(7) == '-' }, s"umask $umask: $nio")
      if (umask == "077") assert(nio.forall(_._2.endsWith("------")), nio)
    }
  }

  test("getFileLinkStatus agrees on a file, a symlink, a dangling symlink and a missing path") {
    def fields(st: FileStatus): Seq[Any] = Seq(st.getPath, st.getLen, st.isDirectory,
      st.isSymlink, if (st.isSymlink) st.getSymlink else null, st.getModificationTime,
      st.getPermission, st.getOwner, st.getGroup)
    val (stock, nio) = bothSides("022") { (fs, _, dir) =>
      Files.write(dir.resolve("file"), "payload".getBytes(UTF_8))
      // the same mtime on both sides, so whole statuses compare
      Files.setLastModifiedTime(dir.resolve("file"),
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
      Files.createSymbolicLink(dir.resolve("link"), Paths.get("file"))
      Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      val names = Seq("file", "link", "dangling", "missing")
      // the stock call resolves links from the path string as given, so
      // bare and qualified forms of the same path can differ: check both
      val paths = names.flatMap { n =>
        val bare = new Path(dir.resolve(n).toString)
        Seq(n -> bare, s"$n (qualified)" -> fs.makeQualified(bare))
      }
      paths.map { case (name, p) =>
        val got =
          try fields(fs.getFileLinkStatus(p)).map(v => String.valueOf(v).replace(dir.toString, "<dir>"))
          catch { case e: FileNotFoundException => Seq(e.getClass.getSimpleName) }
        name -> got
      }
    }
    assert(nio == stock)
    val byName = nio.toMap
    assert(byName("link")(3) == "true" && byName("link")(4).endsWith("<dir>/file"))
    assert(byName("dangling")(3) == "true" && byName("dangling")(1) == "0")
    assert(byName("missing") == Seq("FileNotFoundException"))
    assert(byName("file")(3) == "false")
  }

  test("a sticky-bit mode falls back to the stock call") {
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val (stock, nio) = bothSides("022") { (fs, _, dir) =>
      val d = new Path(dir.toString, "shared")
      fs.mkdirs(d)
      fs.setPermission(d, sticky)
      (fs.getFileStatus(d).getPermission, mode(dir.resolve("shared")))
    }
    assert(nio == stock)
    assert(nio._1 == sticky && nio._1.getStickyBit, nio)
  }

  test("FileContext.rename overwrites a file and its checksum like the stock filesystem") {
    val (stock, nio) = bothSides("022") { (_, fc, dir) =>
      def write(name: String, body: String): Path = {
        val p = new Path(dir.toString, name)
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
        out.write(body.getBytes(UTF_8))
        out.close()
        p
      }
      val src = write("src.bin", "new contents")
      val dst = write("dst.bin", "old")
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val back = try new String(in.readAllBytes(), UTF_8) finally in.close()
      (back, Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted)
    }
    assert(nio == stock)
    assert(nio == ("new contents", Seq(".dst.bin.crc", "dst.bin")))
  }

  test("the file: keys resolve to the checksummed in-process pair") {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    c.set("fs.AbstractFileSystem.file.impl", nioAfs)
    val fs = FileSystem.newInstance(URI.create("file:///"), c)
    try {
      assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem])
      assert(fs.asInstanceOf[org.apache.hadoop.fs.LocalFileSystem].getRaw
        .isInstanceOf[NioRawLocalFileSystem])
    } finally fs.close()
    val afs = FileContext.getLocalFSFileContext(c).getDefaultFileSystem
    assert(afs.isInstanceOf[NioLocalFs])
  }
}
